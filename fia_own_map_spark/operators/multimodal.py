"""Multimodal (image/audio/video) header probe over binary media columns.

Media are opaque ``binary`` columns. ``media_probe`` is the ffprobe analog:
one Arrow-batched ``mapInPandas`` pass over a MIXED media column returning
typed metadata (kind / dims / rate / channels / duration / detail) from
headers alone; ``probe_media`` is its per-blob magic-byte dispatch. No
payload byte is decoded.

Header scanners:
  * ``png`` / ``bmp`` — dimensions from the fixed IHDR / BITMAPINFOHEADER.
  * ``jpeg`` — dimensions from the SOF marker (``_jpeg_dims``).
  * ``wav`` — RIFF chunk walk: rate / channels / bit depth, and duration
    from the data size, with IMA-ADPCM frames-per-block and the ``fact``
    chunk's frame count for compressed formats.
  * ``avi`` — dimensions / frame count / duration from the ``avih`` header.
  * ``mp3`` — ``mp3_meta``: ID3v2 skip, MPEG-1/2/2.5 Layer I-III frame walk
    with resync, Xing/VBR detection.
  * ``aac`` — ``aac_adts_meta``: ADTS profile / rate / channels /
    raw-data-block-accurate duration.
  * ``h264`` — ``h264_sps_meta``: Annex-B SPS exp-Golomb parse per ISO
    14496-10 §7.3.2.1 — profile / level / chroma format / cropped dims.
  * ``fake`` — the synthetic ``b"IMG|w|h|payload"`` blob.

Writers (``encode_bmp``, ``encode_png``, ``encode_wav``,
``encode_avi_mjpeg``, ``make_fake_image``) build the probe's test inputs
and the ``media_probe_mixed`` contract query's blobs.

Payload decoding (pixels, audio samples, video frames) is retired: no
query, pipeline stage or job ran it.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# writer: 24-bit uncompressed BMP
# ---------------------------------------------------------------------------
def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit BMP bytes (BITMAPINFOHEADER, bottom-up,
    4-byte-padded rows)."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    row_size = (w * 3 + 3) & ~3
    data_size = row_size * h
    # pixel rows bottom-up, channels BGR, rows padded
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    return header + info + rows.tobytes()


# ---------------------------------------------------------------------------
# writer: PNG (RFC 2083 / ISO 15948), stdlib zlib
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, {1,3,4}) or (h, w) uint8 -> 8-bit non-interlaced PNG bytes.
    ``filter_type`` applies one filter (0/1/2/3/4) to every scanline."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c
    rows = img.reshape(h, w * c).astype(np.int16)
    prev = np.zeros(w * c, dtype=np.int16)
    out_rows = []
    for y in range(h):
        cur = rows[y]
        left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            upleft = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        else:
            raise ValueError(f"bad filter type {filter_type}")
        out_rows.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(out_rows)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# writer: RIFF/WAVE 16-bit PCM audio
# ---------------------------------------------------------------------------
def encode_wav(samples: np.ndarray, rate: int, bits: int = 16) -> bytes:
    """(n_frames, n_channels) float in [-1, 1] -> 16-bit PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if bits != 16:
        raise NotImplementedError("encoder emits 16-bit PCM")
    n_ch = samples.shape[1]
    ints = np.clip(np.round(samples * 32767.0), -32768, 32767).astype("<i2")
    data = ints.tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# MP3 (MPEG-1/2/2.5 layer I-III) header scan — metadata without decode
# ---------------------------------------------------------------------------
# bitrate_kbps[version_group][layer_index][bitrate_index]; version group
# 0 = MPEG-1, 1 = MPEG-2/2.5; layer_index 0 = Layer I, 1 = II, 2 = III
_MP3_BITRATES = (
    (
        (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
        (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
        (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    ),
    (
        (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
        (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
        (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    ),
)
_MP3_RATES = {0: (11025, 12000, 8000), 2: (22050, 24000, 16000), 3: (44100, 48000, 32000)}
_MP3_SAMPLES_PER_FRAME = ((384, 1152, 1152), (384, 1152, 576))  # [vgroup][layer]


def _id3v2_size(blob: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (syncsafe 28-bit size), else 0."""
    if len(blob) >= 10 and blob[:3] == b"ID3":
        sz = (blob[6] << 21) | (blob[7] << 14) | (blob[8] << 7) | blob[9]
        return 10 + sz + (10 if blob[5] & 0x10 else 0)  # footer flag
    return 0


def mp3_meta(blob: bytes, max_frames: int | None = None) -> dict:
    """MP3 stream metadata WITHOUT audio decode: walk the MPEG frame
    headers (ISO 11172-3 / 13818-3 framing), skipping any leading ID3v2
    tag and resyncing past garbage. Returns version / layer / sample_rate /
    channels / n_frames / avg_bitrate_kbps / duration_s / vbr (also set
    when a Xing/Info header is present). This is the realistic first pass
    over a web-scale audio corpus."""
    pos = _id3v2_size(blob)
    n_frames = 0
    bitrates: list[int] = []
    meta: dict = {}
    vbr = False
    while pos + 4 <= len(blob):
        b0, b1, b2, b3 = blob[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            pos += 1  # resync byte-by-byte (spec behavior for damaged streams)
            continue
        vbits = (b1 >> 3) & 0x3  # 0=2.5, 2=2, 3=1 (1 reserved)
        layer_bits = (b1 >> 1) & 0x3  # 3=I, 2=II, 1=III (0 reserved)
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        if vbits == 1 or layer_bits == 0 or br_idx in (0, 15) or sr_idx == 3:
            pos += 1
            continue
        vgroup = 0 if vbits == 3 else 1
        layer = 4 - layer_bits  # 1/2/3
        rate = _MP3_RATES[vbits][sr_idx]  # table already per-version (2.5 = 11025 family)
        kbps = _MP3_BITRATES[vgroup][layer - 1][br_idx]
        padding = (b2 >> 1) & 0x1
        mode = (b3 >> 6) & 0x3  # 3 = mono
        if layer == 1:
            frame_len = (12 * kbps * 1000 // rate + padding) * 4
        else:
            spf = _MP3_SAMPLES_PER_FRAME[vgroup][layer - 1]
            frame_len = spf * kbps * 1000 // (8 * rate) + padding
        if frame_len <= 4 or pos + frame_len > len(blob):
            break
        if n_frames == 0:
            meta = {
                "mpeg_version": {3: "1", 2: "2", 0: "2.5"}[vbits],
                "layer": layer,
                "sample_rate": rate,
                "n_channels": 1 if mode == 3 else 2,
            }
            # Xing/Info VBR header sits after the side info of frame 0;
            # protection_bit clear (b1 & 1 == 0) means a 2-byte CRC-16
            # precedes the side info (ISO 11172-3 §2.4.1.3)
            side = (17 if mode == 3 else 32) if vgroup == 0 else (9 if mode == 3 else 17)
            crc = 2 if (b1 & 0x1) == 0 else 0
            tag_at = pos + 4 + crc + (side if layer == 3 else 0)
            if blob[tag_at : tag_at + 4] in (b"Xing", b"Info"):
                vbr = blob[tag_at : tag_at + 4] == b"Xing"
        n_frames += 1
        bitrates.append(kbps)
        pos += frame_len
        if max_frames is not None and n_frames >= max_frames:
            break
    if n_frames == 0:
        raise ValueError("no MPEG audio frames found")
    spf = _MP3_SAMPLES_PER_FRAME[0 if meta["mpeg_version"] == "1" else 1][meta["layer"] - 1]
    meta.update(
        n_frames=n_frames,
        avg_bitrate_kbps=round(sum(bitrates) / len(bitrates), 3),
        duration_s=round(n_frames * spf / meta["sample_rate"], 6),
        vbr=vbr or len(set(bitrates)) > 1,
    )
    return meta


# ADTS sampling_frequency_index -> Hz (ISO 14496-3 table 1.18)
_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)


def aac_adts_meta(blob: bytes, max_frames: int | None = None) -> dict:
    """AAC ADTS stream metadata without decode (ISO 14496-3 ADTS framing):
    walk the 0xFFF-sync headers, reading profile / sample rate / channel
    configuration / per-frame byte length. Each ADTS frame carries 1024
    samples per raw data block; duration = frames x blocks x 1024 / rate.
    Same role as mp3_meta: the metadata pass over a web audio corpus."""
    pos = _id3v2_size(blob)
    n_frames = 0
    total_blocks = 0
    meta: dict = {}
    while pos + 7 <= len(blob):
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xF6) != 0xF0:
            pos += 1  # resync (layer bits must be 00)
            continue
        profile = (blob[pos + 2] >> 6) & 0x3  # 0=Main 1=LC 2=SSR 3=LTP
        sr_idx = (blob[pos + 2] >> 2) & 0xF
        if sr_idx >= len(_ADTS_RATES):
            pos += 1
            continue
        channels = ((blob[pos + 2] & 0x1) << 2) | ((blob[pos + 3] >> 6) & 0x3)
        frame_len = ((blob[pos + 3] & 0x3) << 11) | (blob[pos + 4] << 3) | (blob[pos + 5] >> 5)
        blocks = (blob[pos + 6] & 0x3) + 1  # raw_data_blocks_in_frame + 1
        if frame_len < 7 or pos + frame_len > len(blob):
            break
        if n_frames == 0:
            meta = {
                "profile": ("AAC Main", "AAC LC", "AAC SSR", "AAC LTP")[profile],
                "sample_rate": _ADTS_RATES[sr_idx],
                "n_channels": channels,
                "mpeg4": (blob[pos + 1] & 0x08) == 0,  # ID bit: 0 = MPEG-4
            }
        n_frames += 1
        total_blocks += blocks
        pos += frame_len
        if max_frames is not None and n_frames >= max_frames:
            break
    if n_frames == 0:
        raise ValueError("no ADTS frames found")
    meta.update(
        n_frames=n_frames,
        duration_s=round(total_blocks * 1024 / meta["sample_rate"], 6),
    )
    return meta


# ---------------------------------------------------------------------------
# H.264 Annex-B SPS scan — video stream metadata without decode
# ---------------------------------------------------------------------------
class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:  # unsigned exp-Golomb
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("bad exp-Golomb code")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:  # signed exp-Golomb
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


_H264_PROFILES = {66: "Baseline", 77: "Main", 88: "Extended", 100: "High",
                  110: "High 10", 122: "High 4:2:2", 244: "High 4:4:4"}


def _strip_emulation(data: bytes) -> bytes:
    """Remove 00 00 03 emulation-prevention bytes from an RBSP."""
    return data.replace(b"\x00\x00\x03", b"\x00\x00")


def h264_sps_meta(blob: bytes) -> dict:
    """H.264 stream metadata WITHOUT decode: find the first SPS NAL in an
    Annex-B stream (00 00 01 start codes) and parse it per ISO 14496-10
    §7.3.2.1 — profile / level / chroma format / exact cropped dimensions /
    frame_mbs_only. This header pass is what a video corpus scan runs
    first."""
    i = 0
    sps = None
    while i < len(blob) - 4:
        if blob[i : i + 3] == b"\x00\x00\x01":
            start = i + 3
            nal_type = blob[start] & 0x1F
            end = blob.find(b"\x00\x00\x01", start)
            if end == -1:
                end = len(blob)
            elif blob[end - 1 : end] == b"\x00":  # 4-byte start code
                end -= 1
            if nal_type == 7:
                sps = _strip_emulation(blob[start + 1 : end])
                break
            i = end
        else:
            i += 1
    if sps is None:
        raise ValueError("no SPS NAL found")
    r = _BitReader(sps)
    profile_idc = r.u(8)
    r.u(8)  # constraint flags + reserved
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass
        if r.u(1):  # seq_scaling_matrix_present
            for idx in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):  # scaling_list_present
                    size = 16 if idx < 6 else 64
                    last, nxt = 8, 8
                    for _ in range(size):
                        if nxt != 0:
                            nxt = (last + r.se() + 256) % 256
                        last = nxt if nxt != 0 else last
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed
    pw_mbs = r.ue() + 1
    ph_map = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field
    r.u(1)  # direct_8x8_inference
    width = pw_mbs * 16
    height = ph_map * 16 * (2 - frame_mbs_only)
    if r.u(1):  # frame_cropping
        cl, cr_, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
        # crop units per §7.4.2.1.1 (SubWidthC/SubHeightC by chroma format)
        sub_w = {0: 1, 1: 2, 2: 2, 3: 1}[chroma_format_idc]
        sub_h = {0: 1, 1: 2, 2: 1, 3: 1}[chroma_format_idc]
        unit_x = 1 if chroma_format_idc == 0 else sub_w
        unit_y = (1 if chroma_format_idc == 0 else sub_h) * (2 - frame_mbs_only)
        width -= (cl + cr_) * unit_x
        height -= (ct + cb) * unit_y
    return {
        "profile": _H264_PROFILES.get(profile_idc, f"profile_idc {profile_idc}"),
        "level": level_idc / 10.0,
        "chroma_format_idc": chroma_format_idc,
        "width": width,
        "height": height,
        "interlaced_capable": not bool(frame_mbs_only),
    }


# ---------------------------------------------------------------------------
# writer: MJPEG AVI video (RIFF container around JPEG frames)
# ---------------------------------------------------------------------------
def encode_avi_mjpeg(
    jpeg_frames: list[bytes], width: int, height: int, fps: int = 30
) -> bytes:
    """JPEG bitstreams -> minimal MJPEG AVI (avih + one video strl + movi)."""
    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    n = len(jpeg_frames)
    us_per_frame = 1_000_000 // fps
    max_bytes = max((len(f) for f in jpeg_frames), default=0)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, max_bytes * fps, 0, 0x10, n, 0, 1, max_bytes,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, max_bytes, 0xFFFFFFFF,
        0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# writer: synthetic ``IMG|w|h|payload`` blob
# ---------------------------------------------------------------------------
def make_fake_image(media_id: str, width: int, height: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    payload = rng.integers(0, 256, size=width * height, dtype=np.uint8).tobytes()
    return b"IMG|%d|%d|" % (width, height) + payload


# ---------------------------------------------------------------------------
# unified header-only probe (the ffprobe analog for binary media columns)
# ---------------------------------------------------------------------------
def _jpeg_dims(blob: bytes) -> tuple[int, int]:
    """(width, height) from the SOF marker — header scan only, no decode."""
    pos = 2
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            pos += 1
            continue
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        seg_len = struct.unpack_from(">H", blob, pos)[0]
        # whole SOF family (0xC0-0xCF except DHT/JPG/DAC): dimensions are
        # header-readable for lossless and arithmetic-coded JPEGs too
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _, h, w = struct.unpack_from(">BHH", blob, pos + 2)
            return w, h
        pos += seg_len
    raise ValueError("JPEG missing SOF")


def probe_media(blob: bytes) -> dict:
    """Magic-byte dispatch to the cheapest header scan per format: kind +
    dimensions / sample rate / channels / duration / detail, decoding ZERO
    payload bytes. Every field not applicable to the kind is None."""
    out = {"kind": None, "width": None, "height": None, "sample_rate": None,
           "n_channels": None, "duration_s": None, "detail": None}
    if blob[:8] == _PNG_SIG:
        w, h = struct.unpack_from(">II", blob, 16)
        depth, ctype = blob[24], blob[25]
        out.update(kind="png", width=w, height=h,
                   detail=f"color_type={ctype} depth={depth}")
    elif blob[:3] == b"\xff\xd8\xff":
        w, h = _jpeg_dims(blob)
        out.update(kind="jpeg", width=w, height=h,
                   detail="progressive" if b"\xff\xc2" in blob else "baseline")
    elif blob[:2] == b"BM":
        w, h = struct.unpack_from("<ii", blob, 18)
        out.update(kind="bmp", width=w, height=abs(h))
    elif blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        pos, fmt, data_size, fact_frames = 12, None, None, None
        while pos + 8 <= len(blob):
            cid = blob[pos : pos + 4]
            size = struct.unpack_from("<I", blob, pos + 4)[0]
            if cid == b"fmt ":
                fmt = struct.unpack_from("<HHIIHH", blob, pos + 8)
            elif cid == b"data":
                data_size = size
            elif cid == b"fact" and size >= 4:
                fact_frames = struct.unpack_from("<I", blob, pos + 8)[0]
            pos += 8 + size + (size & 1)
        if fmt is None:
            raise ValueError("WAV missing fmt chunk")
        afmt, n_ch, rate, _, block_align, bits = fmt
        # an empty data chunk is 0 s long; without a data chunk, rate or
        # block align the length is unknown
        dur = None
        if data_size is not None and rate and block_align:
            dur = data_size / (rate * block_align)
        if afmt == 0x11 and dur is not None and block_align > 4 * n_ch:
            # ADPCM frames-per-block != bytes-per-frame: header sample + 2
            # samples per data byte per channel
            spb = (block_align - 4 * n_ch) * 2 // n_ch + 1
            dur = (data_size // block_align) * spb / rate
        if fact_frames is not None and afmt not in (1, 3) and rate:
            dur = fact_frames / rate  # fact chunk is authoritative for compressed
        out.update(kind="wav", sample_rate=rate, n_channels=n_ch,
                   duration_s=None if dur is None else round(dur, 6), detail=f"{bits}-bit")
    elif blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        # avih is the first chunk of the first hdrl LIST: fixed layout
        idx = blob.find(b"avih")
        if idx == -1:
            raise ValueError("AVI missing avih")
        us_pf, _, _, _, n_frames = struct.unpack_from("<IIIII", blob, idx + 8)
        w, h = struct.unpack_from("<II", blob, idx + 8 + 32)
        out.update(kind="avi", width=w, height=h,
                   duration_s=round(n_frames * us_pf / 1e6, 6),
                   detail=f"{n_frames} frames")
    elif blob[:4] == b"IMG|":
        head, w, h, _ = blob.split(b"|", 3)
        out.update(kind="fake", width=int(w), height=int(h))
    elif blob[:3] == b"\x00\x00\x01" or blob[:4] == b"\x00\x00\x00\x01":
        m = h264_sps_meta(blob)
        out.update(kind="h264", width=m["width"], height=m["height"],
                   detail=f"{m['profile']} L{m['level']}")
    elif blob[:3] == b"ID3" or (len(blob) > 1 and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0):
        # ID3v2 tags front both MP3 and .aac ADTS files: sniff the first
        # sync word after any tag — layer bits 00 under the 0xFFF sync means
        # ADTS AAC, anything else is an MPEG audio (MP3) frame.
        a = _id3v2_size(blob)
        if a + 2 <= len(blob) and blob[a] == 0xFF and (blob[a + 1] & 0xF6) == 0xF0:
            m = aac_adts_meta(blob)
            out.update(kind="aac", sample_rate=m["sample_rate"],
                       n_channels=m["n_channels"], duration_s=m["duration_s"],
                       detail=m["profile"])
        else:
            m = mp3_meta(blob)
            out.update(kind="mp3", sample_rate=m["sample_rate"],
                       n_channels=m["n_channels"], duration_s=m["duration_s"],
                       detail=f"MPEG-{m['mpeg_version']} L{m['layer']} "
                              f"{m['avg_bitrate_kbps']:g}kbps{' VBR' if m['vbr'] else ''}")
    else:
        raise ValueError("unrecognized media blob")
    return out


MEDIA_PROBE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("detail", StringType()),
        StructField("n_bytes", IntegerType()),
    ]
)


def media_probe(
    df: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """mapInPandas header probe over a mixed binary media column — typed
    metadata for EVERY supported format (image/audio/video) without
    decoding payload bytes; the first pass a 100 TB media corpus runs."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(blob)
                m = probe_media(b)
                rows.append(
                    (mid, m["kind"], m["width"], m["height"], m["sample_rate"],
                     m["n_channels"], m["duration_s"], m["detail"], len(b))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_PROBE_SCHEMA.fields])

    return df.mapInPandas(_batches, MEDIA_PROBE_SCHEMA)
