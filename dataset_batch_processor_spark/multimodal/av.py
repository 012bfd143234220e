"""Audio/video binary-column plumbing.

Same design as images (multimodal/binary.py): opaque ``binary``
payloads + typed metadata, Arrow-batched mapInPandas kernels, codec
registry with real toy containers and documented stubs for the
formats whose libraries (ffmpeg/librosa/soundfile/decord) are not in
this container. The Spark-side contract — schemas, batch shapes,
partitioning — is real and tested either way.

REAL codec: ``wav`` (16-bit PCM via stdlib ``wave`` — decode+encode,
see decode_wav/encode_wav; oracled end-to-end by mm_wav_roundtrip).
Toy containers:
- ``rawpcm``:  b"PCM1" + sample_rate(u32) + n_samples(u32) + int16 mono
- ``rawvid``:  b"VID1" + n_frames(u32) + H(u32) + W(u32) + fps(u32)
               + frames as raw uint8 HxWx3, concatenated
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PCM_MAGIC = b"PCM1"
VID_MAGIC = b"VID1"


def encode_rawpcm(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    assert samples.dtype == np.int16 and samples.ndim == 1
    return PCM_MAGIC + struct.pack(">II", sample_rate, len(samples)) + samples.tobytes()


def decode_rawpcm(content: bytes) -> tuple[np.ndarray, int]:
    if content[:4] != PCM_MAGIC:
        raise ValueError("not a rawpcm payload")
    rate, n = struct.unpack(">II", content[4:12])
    return np.frombuffer(content[12:], dtype=np.int16)[:n], rate


def encode_rawvid(frames: np.ndarray, fps: int = 10) -> bytes:
    n, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    return VID_MAGIC + struct.pack(">IIII", n, h, w, fps) + frames.tobytes()


def decode_rawvid(content: bytes) -> tuple[np.ndarray, int]:
    if content[:4] != VID_MAGIC:
        raise ValueError("not a rawvid payload")
    n, h, w, fps = struct.unpack(">IIII", content[4:20])
    return (
        np.frombuffer(content[20:], dtype=np.uint8).reshape(n, h, w, 3),
        fps,
    )


def mulaw_expand(codes: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte codes -> int16 (ITU-T G.711 formula)."""
    u = (~codes.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) | 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def mulaw_compress(samples: np.ndarray) -> np.ndarray:
    """int16 -> G.711 mu-law byte codes (inverse of mulaw_expand:
    expand(compress(x)) quantizes x; compress(expand(c)) == c)."""
    x = samples.astype(np.int64)
    sign = (x < 0).astype(np.int64)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = np.clip(np.floor(np.log2(mag)).astype(np.int64) - 7, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~((sign << 7) | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def alaw_expand(codes: np.ndarray) -> np.ndarray:
    """G.711 A-law byte codes -> int16.

    ITU-T G.711 sign convention (canonical g711.c alaw2linear): after
    XOR 0x55 the sign bit SET means POSITIVE — e.g.
    alaw_expand(0xD5) == +8 (round 9 fix; was inverted)."""
    a = codes.astype(np.int64) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(
        exp == 0, (mant << 4) | 8, ((mant | 0x10) << 4 | 8) << (exp - 1)
    )
    return np.where(sign, mag, -mag).astype(np.int16)


def alaw_compress(samples: np.ndarray) -> np.ndarray:
    """int16 -> G.711 A-law byte codes (compress(expand(c)) == c).
    Non-negative samples get the sign bit SET pre-XOR, matching
    g711.c linear2alaw's mask 0xD5 for pcm_val >= 0."""
    x = samples.astype(np.int64)
    sign = (x >= 0).astype(np.int64)
    s = np.minimum(np.abs(x), 32767) >> 3  # 13-bit magnitude
    exp = np.zeros_like(s)
    big = s >= 32
    exp[big] = np.floor(np.log2(s[big])).astype(np.int64) - 4
    exp = np.clip(exp, 0, 7)
    mant = np.where(exp == 0, s >> 1, (s >> exp) & 0x0F)
    return (((sign << 7) | (exp << 4) | mant) ^ 0x55).astype(np.uint8)


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """REAL WAV codec — direct RIFF chunk walk (round 8: full format
    matrix, no stdlib ``wave`` limitation to PCM). Decodes PCM
    8-bit unsigned / 16 / 24 / 32-bit, IEEE float 32/64 (format 3),
    G.711 A-law (6) and mu-law (7), and WAVE_FORMAT_EXTENSIBLE
    (0xFFFE, sub-format resolved) — everything normalized to the
    int16 mono contract (top bits for deeper PCM, clip*32767 for
    float, G.711 expansion tables). Multi-channel takes channel 0
    (deterministic). Unknown codes (e.g. ADPCM 2/17, MP3 85) raise
    into the F7 quarantine with the code named."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (sz,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV: missing fmt/data chunk")
    code, nch, rate = struct.unpack("<HHI", fmt[:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if code == 0xFFFE and len(fmt) >= 26:  # extensible: GUID prefix
        (code,) = struct.unpack("<H", fmt[24:26])
    if code == 1:  # integer PCM
        if bits == 8:
            s = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
            samples = ((s - 128) << 8).astype(np.int16)
        elif bits == 16:
            samples = np.frombuffer(
                data, dtype="<i2", count=len(data) // 2
            ).copy()
        elif bits == 24:
            b = np.frombuffer(
                data, dtype=np.uint8, count=len(data) // 3 * 3
            ).reshape(-1, 3).astype(np.int64)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v[v >= 1 << 23] -= 1 << 24
            samples = (v >> 8).astype(np.int16)
        elif bits == 32:
            v = np.frombuffer(data, dtype="<i4", count=len(data) // 4)
            samples = (v.astype(np.int64) >> 16).astype(np.int16)
        else:
            raise NotImplementedError(f"WAV: {bits}-bit PCM unsupported")
    elif code == 3:  # IEEE float
        if bits == 32:
            f = np.frombuffer(data, dtype="<f4", count=len(data) // 4)
        elif bits == 64:
            f = np.frombuffer(data, dtype="<f8", count=len(data) // 8)
        else:
            raise NotImplementedError(f"WAV: {bits}-bit float unsupported")
        samples = np.round(np.clip(f, -1.0, 1.0) * 32767.0).astype(np.int16)
    elif code == 6:
        samples = alaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif code == 7:
        samples = mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    else:
        raise NotImplementedError(
            f"WAV: format code {code} requires an audio library "
            "(PCM/float/G.711 supported)"
        )
    if nch > 1:
        samples = samples[::nch].copy()  # channel 0
    return np.ascontiguousarray(samples), rate


def encode_wav(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """int16 mono -> 16-bit PCM WAV bytes (stdlib ``wave``)."""
    import io
    import wave as _wave

    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("encode_wav expects 1-D int16 samples")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _missing(fmt: str, needs: str) -> Callable[[bytes], tuple]:
    def decode(_content: bytes) -> tuple:
        raise NotImplementedError(
            f"codec '{fmt}' requires {needs}, not present in this container"
        )

    return decode


def _std_dht_segments() -> bytes:
    """The four Annex K Huffman tables as DHT segments — what an
    OpenDML MJPEG decoder must assume when frames carry no DHT."""
    from .jpeg import (
        AC_CHROMA_SPEC,
        AC_LUMA_SPEC,
        DC_CHROMA_SPEC,
        DC_LUMA_SPEC,
    )

    out = b""
    for tclass, tid, spec in (
        (0, 0, DC_LUMA_SPEC), (1, 0, AC_LUMA_SPEC),
        (0, 1, DC_CHROMA_SPEC), (1, 1, AC_CHROMA_SPEC),
    ):
        payload = bytes([tclass << 4 | tid]) + bytes(spec[0][1:]) + bytes(
            spec[1]
        )
        out += b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload
    return out


def _jpeg_has_dht(data: bytes) -> bool:
    """True when the stream carries a DHT segment BEFORE its first
    scan. Round 9: a proper T.81 marker walk (metascrub._walk_jpeg) —
    the old raw ``b'\\xff\\xc4' in body`` substring scan could hit the
    byte pair inside a segment payload (e.g. a DQT entry 0xFF followed
    by 0xC4) and wrongly skip the Annex-K splice. The walk STOPS at
    the first SOS: tables the first scan uses must precede it (T.81),
    so the common implied-DHT frame answers without a per-byte Python
    walk over the entropy stream (this probe runs per frame on the
    decode hot path)."""
    from .metascrub import _walk_jpeg

    for kind, _s, _e, m, _hdr in _walk_jpeg(data):
        if kind == "seg" and m == 0xC4:
            return True
        if kind == "seg" and m == 0xDA:  # first SOS: decision made
            return False
    return False


def _jpeg_strip_dht(data: bytes) -> bytes:
    """Remove real DHT segments only, via the same marker walk (the
    old byte-wise scan could corrupt a frame by 'stripping' a false
    FF C4 match inside another segment's payload)."""
    from .metascrub import _walk_jpeg

    out = bytearray(data[:2])
    for kind, s, e, m, _hdr in _walk_jpeg(data):
        if kind == "seg" and m == 0xC4:
            continue
        out += data[s:e]
    return bytes(out)


def decode_avi_mjpeg(content: bytes) -> tuple[np.ndarray, int]:
    """MJPEG-in-AVI -> (N x H x W x 3 uint8 frames, fps). Pure RIFF
    walk over the existing baseline-JPEG codec: frames are the
    '##dc'/'##dj' chunks of LIST movi; fps from the stream header
    (strh rate/scale) with the avih microseconds-per-frame as the
    fallback. Frames with NO DHT segments (the MJPEG/OpenDML default
    of implied Annex K tables) get the standard tables spliced in
    before decode. Non-JPEG payloads (other fourccs) quarantine."""
    from .jpeg import decode_jpeg

    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    fps_num = fps_den = None
    us_per_frame = None
    frames = []

    def walk(buf: bytes):
        nonlocal fps_num, fps_den, us_per_frame
        pos = 0
        while pos + 8 <= len(buf):
            cid = buf[pos : pos + 4]
            (sz,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            body = buf[pos + 8 : pos + 8 + sz]
            if cid == b"LIST":
                walk(body[4:])  # skip the list type fourcc
            elif cid == b"avih" and len(body) >= 4:
                (us_per_frame,) = struct.unpack("<I", body[:4])
            elif cid == b"strh" and len(body) >= 32:
                fcc_type = body[:4]
                if fcc_type == b"vids":
                    scale, rate = struct.unpack("<II", body[20:28])
                    if scale and rate:
                        fps_num, fps_den = rate, scale
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"dj"):
                if body[:2] != b"\xff\xd8":
                    raise NotImplementedError(
                        "AVI: non-JPEG video chunk (MJPEG only)"
                    )
                if not _jpeg_has_dht(body):
                    body = body[:2] + _std_dht_segments() + body[2:]
                frames.append(decode_jpeg(body))
            pos += 8 + sz + (sz & 1)

    walk(content[12:])
    if not frames:
        raise ValueError("AVI: no video frames found")
    h, w, _ = frames[0].shape
    if any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("AVI: inconsistent frame dimensions")
    if fps_num and fps_den:
        fps = max(1, round(fps_num / fps_den))
    elif us_per_frame:
        fps = max(1, round(1_000_000 / us_per_frame))
    else:
        fps = 25
    return np.stack(frames), int(fps)


def encode_avi_mjpeg(
    frames: np.ndarray, fps: int = 10, quality: int = 90,
    strip_dht: bool = False,
) -> bytes:
    """N x H x W x 3 uint8 -> minimal MJPEG AVI (hdrl with avih +
    vids strh/strf, LIST movi of 00dc JPEG chunks, idx1).
    ``strip_dht=True`` emits the OpenDML implied-table form (frames
    without DHT segments) to exercise the decoder's splice path."""
    from .jpeg import encode_jpeg

    if frames.ndim != 4 or frames.shape[3] != 3 or frames.dtype != np.uint8:
        raise ValueError("encode_avi_mjpeg expects N x H x W x 3 uint8")
    n, h, w, _ = frames.shape

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    jpegs = []
    for f in frames:
        data = encode_jpeg(f, quality=quality)
        if strip_dht:
            data = _jpeg_strip_dht(data)
        jpegs.append(data)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // max(1, fps), 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                                        1, fps, 0, n, 0, 0, 0, 0)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D,
                       w * h * 3, 0, 0, 0, 0)  # BITMAPINFO, biCompression='MJPG'
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_body)
    idx, off = b"", 4
    for j in jpegs:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(j))
        off += 8 + len(j) + (len(j) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_CODECS: dict[str, Callable[[bytes], tuple[np.ndarray, int]]] = {
    "rawpcm": decode_rawpcm,
    "wav": decode_wav,  # REAL (stdlib wave)
    **{f: _missing(f, "soundfile/librosa") for f in ("mp3", "flac", "ogg")},
}

VIDEO_CODECS: dict[str, Callable[[bytes], tuple[np.ndarray, int]]] = {
    "rawvid": decode_rawvid,
    "avi": decode_avi_mjpeg,  # REAL (MJPEG over the baseline-JPEG codec)
    **{f: _missing(f, "ffmpeg/decord") for f in ("mp4", "webm", "mkv")},
}


# ---------------------------------------------------------- audio features

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", IntegerType()),
        StructField("error", StringType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """Decode + summary features (duration, RMS, peak) — the audio
    analogue of image header metadata. Errors quarantined (F7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                rec = {"id": str(row.id), "sample_rate": None, "n_samples": None,
                       "duration_s": None, "rms": None, "peak": None, "error": None}
                try:
                    samples, rate = AUDIO_CODECS[row.fmt.lower()](bytes(row.content))
                    x = samples.astype(np.float64)
                    rec.update(
                        sample_rate=int(rate),
                        n_samples=int(len(samples)),
                        duration_s=float(len(samples) / rate),
                        rms=float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
                        # abs in the WIDE dtype: np.abs(int16 -32768)
                        # wraps back to -32768, under-reporting the
                        # peak of full-scale negative samples
                        peak=int(np.max(np.abs(samples.astype(np.int64))))
                        if len(samples) else 0,
                    )
                except Exception as e:
                    rec["error"] = f"{type(e).__name__}: {e}"
                out.append(rec)
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


# ----------------------------------------------------------- frame sampling

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_s", DoubleType()),
        StructField("content", BinaryType()),  # rawrgb-encoded frame
        StructField("error", StringType()),
    ]
)


def sample_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """1 video row → K sampled frame rows (a flat map, like tiling):
    every ``every_n``-th frame re-encoded as a rawrgb image payload so
    the image pipeline (tiling, dedup, embedding) applies downstream.

    Skew note: one long video fans out to many frames; callers
    repartition by (id, frame_idx) before heavy per-frame work —
    identical mitigation to tile materialization.
    """
    from .binary import encode_rawrgb

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    frames, fps = VIDEO_CODECS[row.fmt.lower()](bytes(row.content))
                    for idx in range(0, frames.shape[0], every_n):
                        out.append(
                            {"id": str(row.id), "frame_idx": idx,
                             "ts_s": float(idx / fps),
                             "content": encode_rawrgb(
                                 np.ascontiguousarray(frames[idx])
                             ),
                             "error": None}
                        )
                except Exception as e:
                    out.append(
                        {"id": str(row.id), "frame_idx": None, "ts_s": None,
                         "content": None, "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAME_SAMPLE_SCHEMA.fields]
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )


# ------------------------------------------------------- VAD segmentation

VAD_FRAME = 64  # samples per analysis frame


def vad_segments(df: DataFrame, frame: int = VAD_FRAME,
                 energy_thresh: int = 22_900_000_000) -> DataFrame:
    """Energy-threshold voice-activity segmentation: 1 audio row -> K
    segment rows (maximal runs of consecutive active frames) — the
    ASR-training-data prep step that splits long recordings into
    utterance-sized pieces.

    Frame energy is the EXACT int64 sum of squared samples (int16
    squares fit 2^30; 64 of them fit 2^36), so the active flags — and
    therefore the segmentation — are integer-deterministic and the
    driver's hash gate applies (mm_audio_vad_segments). The trailing
    sub-frame tail is dropped, matching the SQL oracle. Decode
    failures quarantine (F7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    samples, rate = AUDIO_CODECS[row.fmt.lower()](
                        bytes(row.content)
                    )
                    n_frames = len(samples) // frame
                    x = samples[: n_frames * frame].astype(np.int64)
                    energy = (x * x).reshape(n_frames, frame).sum(axis=1)
                    active = energy > energy_thresh
                    # islands: segment id = cumsum of run starts
                    starts = np.diff(
                        np.concatenate(([0], active.view(np.int8)))
                    ) == 1
                    seg_of = np.cumsum(starts) - 1
                    for seg in range(seg_of[active].max() + 1 if active.any() else 0):
                        idx = np.nonzero(active & (seg_of == seg))[0]
                        out.append(
                            {
                                "id": str(row.id),
                                "seg_idx": int(seg),
                                "start_frame": int(idx[0]),
                                "end_frame": int(idx[-1]),
                                "n_frames": int(len(idx)),
                                "start_s": float(idx[0] * frame / rate),
                                "error": None,
                            }
                        )
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        {"id": str(row.id), "seg_idx": None,
                         "start_frame": None, "end_frame": None,
                         "n_frames": None, "start_s": None,
                         "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out,
                columns=["id", "seg_idx", "start_frame", "end_frame",
                         "n_frames", "start_s", "error"],
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run,
        schema=("id string, seg_idx int, start_frame int, end_frame int, "
                "n_frames int, start_s double, error string"),
    )


# ----------------------------------------------- spectral front-end

# Fixed-point DFT filter bank — the STFT-power front-end of every
# ASR/audio-quality pipeline, made integer-exact the way phash.py
# made the DCT exact: twiddle factors are quantized ONCE in Python
# (floor(cos*2^14 + 0.5)) and the very same integer table is embedded
# literally in the DuckDB oracle, so Spark (numpy int64 GEMM) and the
# oracle compute identical integers — no engine trig, no float sums.
# Magnitudes: |x| <= 2^15, |twiddle| <= 2^14, 64 terms -> |re| <= 2^35;
# re DIV 64 <= 2^29; power = q_re^2 + q_im^2 <= 2^59; band sums of 4
# stay < 2^61. All inside int64.

SPEC_FRAME = 64          # samples per analysis frame (non-overlapping)
SPEC_BINS = 8            # DFT bins k = 1..8 (fundamental .. 8th)
_SPEC_SCALE = 16_384     # 2^14 twiddle quantization


def _spec_tables() -> tuple[np.ndarray, np.ndarray]:
    import math

    cos = np.empty((SPEC_BINS, SPEC_FRAME), dtype=np.int64)
    sin = np.empty((SPEC_BINS, SPEC_FRAME), dtype=np.int64)
    for k in range(1, SPEC_BINS + 1):
        for i in range(SPEC_FRAME):
            ang = 2.0 * math.pi * k * i / SPEC_FRAME
            cos[k - 1, i] = math.floor(math.cos(ang) * _SPEC_SCALE + 0.5)
            sin[k - 1, i] = math.floor(math.sin(ang) * _SPEC_SCALE + 0.5)
    return cos, sin


SPEC_COS, SPEC_SIN = _spec_tables()


def spec_twiddle_values_sql() -> str:
    """The twiddle table as SQL VALUES rows ``(k, i, c, s)`` — the
    oracle joins THESE literal integers, never engine cos()/sin()."""
    rows = []
    for k in range(1, SPEC_BINS + 1):
        for i in range(SPEC_FRAME):
            rows.append(
                f"({k},{i},{int(SPEC_COS[k - 1, i])},"
                f"{int(SPEC_SIN[k - 1, i])})"
            )
    return ",".join(rows)


def _tdiv(a: np.ndarray, d: int) -> np.ndarray:
    """Integer division truncating toward zero (numpy // floors;
    Spark DIV and DuckDB // truncate — match them)."""
    return np.where(a < 0, -((-a) // d), a // d)


def spectral_features(df: DataFrame, frame: int = SPEC_FRAME) -> DataFrame:
    """1 audio row -> one row per analysis frame with the dominant
    DFT bin and low/high band powers. Exact int64 end to end (see
    module notes above); the trailing sub-frame tail is dropped and
    decode failures quarantine (F7) like the other audio operators.

    ``frame`` must equal SPEC_FRAME: the twiddle tables are sized to
    it (and mirrored literally in the oracle SQL). Validated loudly
    here — otherwise every row would quarantine on a matmul shape
    error and look like corrupt audio (review round 8)."""
    if frame != SPEC_FRAME:
        raise ValueError(
            f"spectral_features requires frame == SPEC_FRAME "
            f"({SPEC_FRAME}); regenerate the twiddle tables (and the "
            f"oracle's literal copy) to change the analysis window"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    samples, _rate = AUDIO_CODECS[row.fmt.lower()](
                        bytes(row.content)
                    )
                    n_frames = len(samples) // frame
                    x = samples[: n_frames * frame].astype(np.int64)
                    x = x.reshape(n_frames, frame)
                    re = _tdiv(x @ SPEC_COS.T, frame)   # (n_frames, 8)
                    im = _tdiv(x @ SPEC_SIN.T, frame)
                    power = re * re + im * im
                    half = SPEC_BINS // 2
                    dom = np.argmax(power, axis=1) + 1  # first max = low k
                    p_low = power[:, :half].sum(axis=1)
                    p_high = power[:, half:].sum(axis=1)
                    for f in range(n_frames):
                        out.append(
                            {"id": str(row.id), "frame_idx": int(f),
                             "dom_bin": int(dom[f]),
                             "p_low": int(p_low[f]),
                             "p_high": int(p_high[f]), "error": None}
                        )
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        {"id": str(row.id), "frame_idx": None,
                         "dom_bin": None, "p_low": None, "p_high": None,
                         "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out,
                columns=["id", "frame_idx", "dom_bin",
                         "p_low", "p_high", "error"],
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run,
        schema=("id string, frame_idx int, dom_bin int, "
                "p_low long, p_high long, error string"),
    )


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """Perceptual audio fingerprint: md5 over the per-frame dominant-
    bin SEQUENCE from the spectral front-end (a Shazam-style landmark
    reduction, minus the combinatorial pairing). Two recordings match
    iff every frame's dominant frequency matches — robust to level
    changes that alter power but not the argmax, and exact-integer
    deterministic because the dom_bin stream is.

    Shape: the kernel emits frames; the fingerprint is a per-id JVM
    aggregation (collect_list is bounded by frames-per-recording, not
    corpus size). Grouping recordings by fingerprint is then ordinary
    exact dedup — one small-key shuffle."""
    from pyspark.sql import functions as F

    frames = spectral_features(df).filter(F.col("error").isNull())
    return frames.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("frame_idx", "dom_bin"))
                    ),
                    lambda s: s.getField("dom_bin").cast("string"),
                ),
                ",",
            )
        ).alias("fingerprint"),
    )


def scene_changes(df: DataFrame, energy_thresh: int) -> DataFrame:
    """Shot-boundary detection by adjacent-frame difference energy —
    the primitive behind keyframe selection in video curation (sample
    one frame per SHOT instead of per fixed stride). For each pair of
    adjacent frames the kernel computes the EXACT int64 sum of squared
    per-pixel differences (uint8 diffs are |d| <= 255, squares <= 2^16,
    frame sums far below 2^53) and flags a cut where the energy
    crosses ``energy_thresh``. 1 video row -> n_frames-1 boundary
    rows. Decode failures quarantine (F7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    frames, _fps = decode_rawvid(bytes(row.content))
                    x = frames.astype(np.int64).reshape(len(frames), -1)
                    deltas = ((x[1:] - x[:-1]) ** 2).sum(axis=1)
                    for f, e in enumerate(deltas):
                        out.append(
                            {"id": str(row.id), "frame_idx": int(f),
                             "delta_energy": int(e),
                             "is_cut": bool(e > energy_thresh),
                             "error": None}
                        )
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        {"id": str(row.id), "frame_idx": None,
                         "delta_energy": None, "is_cut": None,
                         "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out,
                columns=["id", "frame_idx", "delta_energy", "is_cut",
                         "error"],
            )

    return df.select("id", "content").mapInPandas(
        run,
        schema=("id string, frame_idx int, delta_energy long, "
                "is_cut boolean, error string"),
    )


def normalize_peak(df: DataFrame) -> DataFrame:
    """Peak normalization — scale each recording so its loudest
    sample hits full scale (the level-matching step before feature
    extraction or mixing). Exact integer arithmetic: y = x * 32767
    truncating-div peak (sign-aware _tdiv, matching SQL's // and
    Spark's DIV), so the normalized stream — and therefore the hash
    gate — is engine-deterministic. Silent input (peak 0) passes
    through unchanged. Decode failures quarantine (F7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    samples, rate = AUDIO_CODECS[row.fmt.lower()](
                        bytes(row.content)
                    )
                    x = samples.astype(np.int64)
                    peak = int(np.abs(x).max()) if len(x) else 0
                    y = _tdiv(x * 32767, peak) if peak else x
                    out.append(
                        {"id": str(row.id),
                         "n_samples": int(len(x)),
                         "peak_before": peak,
                         "peak_after": int(np.abs(y).max()) if len(y) else 0,
                         "sample_sum": int(y.sum()),
                         "error": None}
                    )
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        {"id": str(row.id), "n_samples": None,
                         "peak_before": None, "peak_after": None,
                         "sample_sum": None,
                         "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out,
                columns=["id", "n_samples", "peak_before", "peak_after",
                         "sample_sum", "error"],
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run,
        schema=("id string, n_samples int, peak_before int, "
                "peak_after int, sample_sum long, error string"),
    )


def resample_linear(df: DataFrame, p: int = 3, q: int = 2) -> DataFrame:
    """Rational-ratio resampling by exact linear interpolation (the
    sample-rate unification pass before batching audio: 16k -> 24k is
    p/q = 3/2). Output position i sits at input time i*q/p; with
    t = i*q, k = t // p, r = t % p the sample is
    ``x[k] + tdiv((x[k+1] - x[k]) * r, p)`` — pure integer
    arithmetic, truncation toward zero on both engines, so the
    resampled stream is engine-deterministic and hash-gateable.
    Output length is ((n-1)*p) // q + 1 (every position with
    i*q <= (n-1)*p). Decode failures quarantine (F7)."""
    if p <= 0 or q <= 0:
        raise ValueError("resample ratio must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    samples, rate = AUDIO_CODECS[row.fmt.lower()](
                        bytes(row.content)
                    )
                    x = samples.astype(np.int64)
                    n = len(x)
                    if n < 2:
                        raise ValueError("resample needs >= 2 samples")
                    n_out = ((n - 1) * p) // q + 1
                    t = np.arange(n_out, dtype=np.int64) * q
                    k = t // p
                    r = t % p
                    xk = x[k]
                    # k+1 is only touched where r > 0 (there k+1 <= n-1)
                    xk1 = x[np.minimum(k + 1, n - 1)]
                    y = xk + _tdiv((xk1 - xk) * r, p)
                    w = np.arange(1, n_out + 1, dtype=np.int64)
                    out.append(
                        {"id": str(row.id),
                         "n_in": n,
                         "n_out": int(n_out),
                         "rate_out": rate * p // q,
                         "out_sum": int(y.sum()),
                         "out_wsum": int((y * w).sum()),
                         "error": None}
                    )
                except Exception as e:  # noqa: BLE001 — quarantine
                    out.append(
                        {"id": str(row.id), "n_in": None, "n_out": None,
                         "rate_out": None, "out_sum": None,
                         "out_wsum": None,
                         "error": f"{type(e).__name__}: {e}"}
                    )
            yield pd.DataFrame(
                out,
                columns=["id", "n_in", "n_out", "rate_out", "out_sum",
                         "out_wsum", "error"],
            )

    return df.select("id", "fmt", "content").mapInPandas(
        run,
        schema=("id string, n_in int, n_out int, rate_out int, "
                "out_sum long, out_wsum long, error string"),
    )
