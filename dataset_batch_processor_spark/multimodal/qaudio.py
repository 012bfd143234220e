"""Audio queries: WAV roundtrip + bit-depth matrix, feature extract,
VAD segmentation, spectral front-end, peak normalize, rational
resample, and fingerprint near-dup. Split out of
multimodal/queries.py in round 10; kernels live in av.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .qcommon import per_doc


# WAV analogue of the PNG roundtrip: deterministic int16 ramp per doc,
# encoded to real RIFF/PCM bytes (stdlib wave), decoded back through
# the audio codec registry, sample-sum checksummed; DuckDB recomputes
# the checksum in closed form. Hash match == every sample survived the
# encode -> decode roundtrip.

WAV_ROUNDTRIP_SCHEMA = (
    "doc_id long, sample_rate int, n_samples int, sample_sum bigint"
)


def _wav_samples(d: int):
    """The shared audio lattice: ``d % 500 + 100`` int16 ramp samples."""
    import numpy as np

    i = np.arange(d % 500 + 100, dtype=np.int64)
    return ((d * 31 + i * 7) % 65536 - 32768).astype(np.int16)


def _q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    def row(d):
        data = av.encode_wav(_wav_samples(d), sample_rate=16_000)
        dec, rate = av.AUDIO_CODECS["wav"](data)
        yield d, int(rate), int(len(dec)), int(dec.astype("int64").sum())

    return per_doc(spark, sf_dir, WAV_ROUNDTRIP_SCHEMA, row, sized=True)


WAV_ROUNDTRIP_DUCK = """
SELECT doc_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(doc_id % 500 + 100 AS INT) AS n_samples,
       CAST(list_sum(list_transform(generate_series(0, doc_id % 500 + 99),
              i -> (doc_id * 31 + i * 7) % 65536 - 32768)) AS BIGINT)
           AS sample_sum
FROM documents
"""


# ------------------------------------------------- audio feature extract
# Drives the REAL av.audio_features operator (decode + duration/RMS/
# peak summary) under the hash gate, on deterministic WAV fixtures
# (same sample lattice as mm_wav_roundtrip). RMS is hash-safe without
# rounding: the squares of int16 samples are exact in float64 and
# their sum stays far below 2^53, so sum, the /n division, and sqrt
# are all correctly-rounded IEEE — bit-identical in numpy and DuckDB.


def _wav_row(d: int):
    from . import av

    yield str(d), "wav", av.encode_wav(_wav_samples(d), sample_rate=16_000)


def _wavs(spark: SparkSession, sf_dir: str, rem: int) -> DataFrame:
    """WAV files of the shared lattice for the ``doc_id % 3 == rem``
    slice, as the (id, fmt, content) frame the av operators take."""
    return per_doc(spark, sf_dir, "id string, fmt string, content binary",
                   _wav_row, mod=3, rem=rem, sized=True)


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    return av.audio_features(_wavs(spark, sf_dir, 0))


AUDIO_FEATURES_DUCK = """
WITH base AS (
  SELECT doc_id, doc_id % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 0
),
s AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
),
v AS (
  SELECT doc_id, n, (doc_id * 31 + i * 7) % 65536 - 32768 AS x FROM s
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(n AS DOUBLE) / 16000 AS duration_s,
       sqrt(CAST(sum(x * x) AS DOUBLE) / n) AS rms,
       CAST(max(abs(x)) AS INT) AS peak,
       CAST(NULL AS VARCHAR) AS error
FROM v
GROUP BY doc_id, n
"""


# -------------------------------------------------- VAD segmentation
# Drives the REAL av.vad_segments operator (energy-threshold islands,
# the ASR-prep utterance splitter) on deterministic WAV fixtures; the
# DuckDB oracle recomputes frame energies in closed form and rebuilds
# the islands with a lag+cumsum window — a hash match proves framing,
# the exact-integer energy threshold, and the run-merge logic.

_VAD_THRESH = 22_900_000_000  # ~the all-x̄-uniform mean frame energy


def _q_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    return av.vad_segments(_wavs(spark, sf_dir, 1), energy_thresh=_VAD_THRESH)


VAD_SEGMENTS_DUCK = f"""
WITH base AS (
  SELECT doc_id, doc_id % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
fr AS (
  SELECT doc_id, unnest(generate_series(0, n // 64 - 1)) AS f
  FROM base WHERE n // 64 >= 1
),
en AS (
  SELECT doc_id, f,
         list_sum(list_transform(generate_series(0, 63),
            j -> ((doc_id * 31 + (f * 64 + j) * 7) % 65536 - 32768)
               * ((doc_id * 31 + (f * 64 + j) * 7) % 65536 - 32768)))
           AS energy
  FROM fr
),
act AS (SELECT doc_id, f, energy > {_VAD_THRESH} AS active FROM en),
seg0 AS (
  SELECT doc_id, f, active,
         CASE WHEN active AND NOT coalesce(
                lag(active) OVER (PARTITION BY doc_id ORDER BY f), FALSE)
              THEN 1 ELSE 0 END AS is_start
  FROM act
),
seg1 AS (
  SELECT doc_id, f, active,
         sum(is_start) OVER (PARTITION BY doc_id ORDER BY f
             ROWS UNBOUNDED PRECEDING) - 1 AS seg
  FROM seg0
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(seg AS INT) AS seg_idx,
       CAST(min(f) AS INT) AS start_frame,
       CAST(max(f) AS INT) AS end_frame,
       CAST(count(*) AS INT) AS n_frames,
       CAST(min(f) * 64 AS DOUBLE) / 16000 AS start_s,
       CAST(NULL AS VARCHAR) AS error
FROM seg1 WHERE active
GROUP BY doc_id, seg
ORDER BY id, seg_idx
"""


# ------------------------------------------------ spectral front-end
# Drives av.spectral_features (fixed-point DFT filter bank) under the
# hash gate on the same deterministic WAV lattice as the other audio
# queries (slice doc_id%3==2, disjoint from features/VAD). The DuckDB
# oracle joins the LITERAL integer twiddle table exported by av.py —
# the exact integers the numpy GEMM used — and rebuilds re/im/power
# per frame, so a framing bug, a truncation-direction bug, or any
# float leak in the kernel cannot hash green.


def _q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    return av.spectral_features(_wavs(spark, sf_dir, 2))


def _audio_spectral_duck() -> str:
    from . import av

    half = av.SPEC_BINS // 2
    lo = " + ".join(f"ps[{j}]" for j in range(1, half + 1))
    hi = " + ".join(f"ps[{j}]" for j in range(half + 1, av.SPEC_BINS + 1))
    return f"""
WITH tw(k, i, c, s) AS (VALUES {av.spec_twiddle_values_sql()}),
base AS (
  SELECT doc_id, doc_id % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id, unnest(generate_series(0, n // {av.SPEC_FRAME} - 1)) AS f
  FROM base WHERE n // {av.SPEC_FRAME} >= 1
),
sums AS (
  SELECT fr.doc_id, fr.f, tw.k,
         CAST(sum(((fr.doc_id * 31 + (fr.f * {av.SPEC_FRAME} + tw.i) * 7)
                   % 65536 - 32768) * tw.c) AS BIGINT) AS re,
         CAST(sum(((fr.doc_id * 31 + (fr.f * {av.SPEC_FRAME} + tw.i) * 7)
                   % 65536 - 32768) * tw.s) AS BIGINT) AS im
  FROM fr, tw
  GROUP BY fr.doc_id, fr.f, tw.k
),
powers AS (
  SELECT doc_id, f, k,
         (re // {av.SPEC_FRAME}) * (re // {av.SPEC_FRAME})
         + (im // {av.SPEC_FRAME}) * (im // {av.SPEC_FRAME}) AS p
  FROM sums
),
pl AS (
  SELECT doc_id, f, list(p ORDER BY k) AS ps
  FROM powers GROUP BY doc_id, f
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(f AS INT) AS frame_idx,
       CAST(list_position(ps, list_max(ps)) AS INT) AS dom_bin,
       CAST({lo} AS BIGINT) AS p_low,
       CAST({hi} AS BIGINT) AS p_high,
       CAST(NULL AS VARCHAR) AS error
FROM pl
"""


# ------------------------------------------------ audio peak normalize
# Drives av.normalize_peak under the hash gate on the shared WAV
# lattice (slice doc_id%3==1, same fixture family as VAD; the oracle
# recomputes peak, the sign-aware truncating rescale, and the
# normalized sample sum closed-form, so a floor-vs-trunc division
# slip on negative samples cannot hash green).


def _q_audio_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    return av.normalize_peak(_wavs(spark, sf_dir, 1))


# ------------------------------------------ rational audio resampling
# Drives av.resample_linear (p/q = 3/2: the 16k -> 24k unification
# pass) over the same deterministic waveform family as the normalize
# query on a disjoint doc subset. Exact integer interpolation means
# the oracle recomputes every output sample in closed form; the
# position-weighted sum pins output ORDER, not just the multiset.


def _q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import av

    return av.resample_linear(_wavs(spark, sf_dir, 2), p=3, q=2)


AUDIO_RESAMPLE_DUCK = """
WITH base AS (
  SELECT doc_id, doc_id % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 2
),
o AS (
  SELECT doc_id, n, ((n - 1) * 3) // 2 + 1 AS n_out FROM base
),
s AS (
  SELECT doc_id, n, n_out, unnest(generate_series(0, n_out - 1)) AS i
  FROM o
),
c AS (
  SELECT doc_id, n, n_out, i, (i * 2) // 3 AS k, (i * 2) % 3 AS r FROM s
),
v AS (
  SELECT doc_id, n, n_out, i, r,
         (doc_id * 31 + k * 7) % 65536 - 32768 AS xk,
         (doc_id * 31 + least(k + 1, n - 1) * 7) % 65536 - 32768 AS xk1
  FROM c
),
y AS (
  SELECT doc_id, n, n_out, i,
         xk + ((xk1 - xk) * r) // 3 AS y
  FROM v
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(n AS INT) AS n_in,
       CAST(n_out AS INT) AS n_out,
       CAST(24000 AS INT) AS rate_out,
       CAST(sum(y) AS BIGINT) AS out_sum,
       CAST(sum(y * (i + 1)) AS BIGINT) AS out_wsum,
       CAST(NULL AS VARCHAR) AS error
FROM y
GROUP BY doc_id, n, n_out
"""


AUDIO_NORMALIZE_DUCK = """
WITH base AS (
  SELECT doc_id, doc_id % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM base
),
v AS (
  SELECT doc_id, n, (doc_id * 31 + i * 7) % 65536 - 32768 AS x FROM s
),
p AS (
  SELECT doc_id, CAST(max(abs(x)) AS BIGINT) AS peak
  FROM v GROUP BY doc_id
),
y AS (
  SELECT v.doc_id, v.n, p.peak, (v.x * 32767) // p.peak AS y
  FROM v JOIN p ON v.doc_id = p.doc_id
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(n AS INT) AS n_samples,
       CAST(peak AS INT) AS peak_before,
       CAST(max(abs(y)) AS INT) AS peak_after,
       CAST(sum(y) AS BIGINT) AS sample_sum,
       CAST(NULL AS VARCHAR) AS error
FROM y
GROUP BY doc_id, n, peak
"""


# -------------------------------------------- audio fingerprint dedup
# Composes the spectral front-end into the dedup family: recordings
# are fingerprinted by their dominant-bin sequence (av.audio_
# fingerprints) and grouped — perceptual exact-dup detection for
# audio. The fixture PLANTS duplicates: doc_ids 6m+2 and 6m+5 render
# the same seed waveform (seed = doc_id floored to its 6-block), and
# the sawtooth STEP varies with the seed (8 frequency classes x 8
# length classes) so distinct seeds usually fingerprint apart. Same-
# class seeds legitimately collide (same pitch, same length — the
# perceptual-match semantics); the oracle pins the exact group
# structure either way, and the planted-pair containment is pinned
# separately in tests/test_av.py.

_FP_SEED = "doc_id - CASE WHEN doc_id % 6 = 5 THEN 3 ELSE 0 END"


def _q_audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import av

    docs = catalog.fanout(
        catalog.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select("doc_id"),
        rows=catalog.table_rows(spark, sf_dir, "documents") // 3,
    ).select(
        "doc_id", F.expr(_FP_SEED).alias("seed")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, seed in zip(pdf["doc_id"], pdf["seed"]):
                s = int(seed)
                n = s % 500 + 100
                step = (s % 8 + 1) * 1024
                i = np.arange(n, dtype=np.int64)
                samples = ((s * 31 + i * step) % 65536 - 32768).astype(
                    np.int16
                )
                out.append(
                    {
                        "id": str(int(doc_id)),
                        "fmt": "wav",
                        "content": av.encode_wav(samples, sample_rate=16_000),
                    }
                )
            yield pd.DataFrame(out, columns=["id", "fmt", "content"])

    wavs = docs.mapInPandas(gen, schema="id string, fmt string, content binary")
    fps = av.audio_fingerprints(wavs)
    return fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("int").alias("n_copies"),
        F.min("n_frames").alias("n_frames"),
        F.min(F.col("id").cast("bigint")).alias("canonical_id"),
    )


def _audio_fingerprint_duck() -> str:
    from . import av

    return f"""
WITH tw(k, i, c, s) AS (VALUES {av.spec_twiddle_values_sql()}),
base AS (
  SELECT doc_id, {_FP_SEED} AS sd,
         ({_FP_SEED}) % 500 + 100 AS n
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id, sd,
         unnest(generate_series(0, n // {av.SPEC_FRAME} - 1)) AS f
  FROM base WHERE n // {av.SPEC_FRAME} >= 1
),
sums AS (
  SELECT fr.doc_id, fr.f, tw.k,
         CAST(sum(((fr.sd * 31
                    + (fr.f * {av.SPEC_FRAME} + tw.i)
                      * ((fr.sd % 8 + 1) * 1024))
                   % 65536 - 32768) * tw.c) AS BIGINT) AS re,
         CAST(sum(((fr.sd * 31
                    + (fr.f * {av.SPEC_FRAME} + tw.i)
                      * ((fr.sd % 8 + 1) * 1024))
                   % 65536 - 32768) * tw.s) AS BIGINT) AS im
  FROM fr, tw
  GROUP BY fr.doc_id, fr.f, tw.k
),
powers AS (
  SELECT doc_id, f, k,
         (re // {av.SPEC_FRAME}) * (re // {av.SPEC_FRAME})
         + (im // {av.SPEC_FRAME}) * (im // {av.SPEC_FRAME}) AS p
  FROM sums
),
dom AS (
  SELECT doc_id, f,
         list_position(list(p ORDER BY k),
                       list_max(list(p ORDER BY k))) AS dom_bin
  FROM powers GROUP BY doc_id, f
),
fp AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_frames,
         md5(string_agg(CAST(dom_bin AS VARCHAR), ',' ORDER BY f))
           AS fingerprint
  FROM dom GROUP BY doc_id
)
SELECT fingerprint,
       CAST(count(*) AS INT) AS n_copies,
       CAST(min(n_frames) AS INT) AS n_frames,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM fp
GROUP BY fingerprint
"""


WAV_DEPTHS_SCHEMA = (
    "doc_id long, codec string, n_samples int, rate int, "
    "decode_exact boolean, sample_sum bigint"
)

_WAV_BRANCHES = ("pcm8", "pcm16", "pcm24", "pcm32", "mulaw", "alaw")


def _q_wav_depths_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV format matrix (round 8 late): 8/16/24/32-bit PCM and
    G.711 mu-law/A-law streams, each hand-built as raw RIFF from a
    doc_id formula, decoded through av.decode_wav, and summed. The
    DuckDB oracle recomputes every branch's int16 normalization in
    closed form — including the full G.711 expansion arithmetic — so
    a bias, shift, sign, or segment-table bug in any branch cannot
    hash green."""
    import struct as _struct

    import numpy as np

    from . import av as avmod

    def riff(code, bits, payload, rate):
        fmt = _struct.pack(
            "<HHIIHH", code, 1, rate, rate * bits // 8, bits // 8, bits
        )
        out = (b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
               + b"data" + _struct.pack("<I", len(payload)) + payload)
        if len(payload) % 2:
            out += b"\x00"
        return b"RIFF" + _struct.pack("<I", len(out)) + out

    def row(d):
        n = d % 50 + 10
        rate = (8000, 16000, 44100)[d % 3]
        branch = (d // 9) % 6
        i = np.arange(n, dtype=np.int64)
        if branch == 0:
            v = (d * 7 + i * 13) % 256
            payload = v.astype(np.uint8).tobytes()
            code, bits = 1, 8
            expect = ((v - 128) << 8).astype(np.int16)
        elif branch == 1:
            u = (d * 11 + i * 17) % 65536
            expect = np.where(u >= 32768, u - 65536, u).astype(np.int16)
            payload = expect.astype("<i2").tobytes()
            code, bits = 1, 16
        elif branch == 2:
            u = (d * 13 + i * 101) % (1 << 24)
            payload = b"".join(int(x).to_bytes(3, "little") for x in u)
            code, bits = 1, 24
            expect = (
                ((u + (1 << 23)) % (1 << 24)) // 256 - 32768
            ).astype(np.int16)
        elif branch == 3:
            u = (d * 19 + i * 333) % (1 << 32)
            payload = u.astype("<u4").tobytes()
            code, bits = 1, 32
            expect = (
                ((u + (1 << 31)) % (1 << 32)) // 65536 - 32768
            ).astype(np.int16)
        elif branch == 4:
            c = ((d * 5 + i * 29) % 256).astype(np.uint8)
            payload = c.tobytes()
            code, bits = 7, 8
            expect = avmod.mulaw_expand(c)
        else:
            c = ((d * 5 + i * 29) % 256).astype(np.uint8)
            payload = c.tobytes()
            code, bits = 6, 8
            expect = avmod.alaw_expand(c)
        dec, got_rate = avmod.decode_wav(riff(code, bits, payload, rate))
        yield (d, _WAV_BRANCHES[branch], n, int(got_rate),
               bool(np.array_equal(dec, expect)),
               int(dec.astype(np.int64).sum()))

    return per_doc(spark, sf_dir, WAV_DEPTHS_SCHEMA, row, mod=9, rem=1,
                   sized=True)


# closed-form int16 normalization per branch; G.711 expansion spelled
# out in integer arithmetic (u = 255-c for mu-law: negative when the
# complemented sign bit is set; a = xor(c,85) for A-law: POSITIVE when
# the post-XOR sign bit is set, per g711.c — segment exponent/mantissa
# from div/mod)
WAV_DEPTHS_DUCK = """
WITH b AS (
  SELECT doc_id, (doc_id // 9) % 6 AS br, doc_id % 50 + 10 AS n
  FROM documents WHERE doc_id % 9 = 1
)
SELECT doc_id,
       CASE br WHEN 0 THEN 'pcm8' WHEN 1 THEN 'pcm16' WHEN 2 THEN 'pcm24'
            WHEN 3 THEN 'pcm32' WHEN 4 THEN 'mulaw' ELSE 'alaw' END
           AS codec,
       CAST(n AS INT) AS n_samples,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
            ELSE 44100 END AS INT) AS rate,
       TRUE AS decode_exact,
       CAST((
         SELECT sum(CASE br
           WHEN 0 THEN ((doc_id * 7 + i.i * 13) % 256 - 128) * 256
           WHEN 1 THEN CASE WHEN (doc_id * 11 + i.i * 17) % 65536 >= 32768
                       THEN (doc_id * 11 + i.i * 17) % 65536 - 65536
                       ELSE (doc_id * 11 + i.i * 17) % 65536 END
           WHEN 2 THEN (((doc_id * 13 + i.i * 101) % 16777216 + 8388608)
                        % 16777216) // 256 - 32768
           WHEN 3 THEN (((doc_id * 19 + i.i * 333) % 4294967296
                         + 2147483648) % 4294967296) // 65536 - 32768
           WHEN 4 THEN CASE WHEN 255 - (doc_id * 5 + i.i * 29) % 256 >= 128
             THEN -((((255 - (doc_id * 5 + i.i * 29) % 256) % 16) * 8 + 132)
                    * (1 << (((255 - (doc_id * 5 + i.i * 29) % 256) // 16)
                             % 8)) - 132)
             ELSE ((((255 - (doc_id * 5 + i.i * 29) % 256) % 16) * 8 + 132)
                   * (1 << (((255 - (doc_id * 5 + i.i * 29) % 256) // 16)
                            % 8)) - 132) END
           ELSE CASE WHEN xor((doc_id * 5 + i.i * 29) % 256, 85) >= 128
             THEN CASE WHEN (xor((doc_id * 5 + i.i * 29) % 256, 85)
                             // 16) % 8 = 0
                  THEN (xor((doc_id * 5 + i.i * 29) % 256, 85) % 16)
                       * 16 + 8
                  ELSE ((xor((doc_id * 5 + i.i * 29) % 256, 85) % 16 + 16)
                        * 16 + 8)
                       * (1 << ((xor((doc_id * 5 + i.i * 29) % 256, 85)
                                 // 16) % 8 - 1)) END
             ELSE -(CASE WHEN (xor((doc_id * 5 + i.i * 29) % 256, 85)
                              // 16) % 8 = 0
                    THEN (xor((doc_id * 5 + i.i * 29) % 256, 85) % 16)
                         * 16 + 8
                    ELSE ((xor((doc_id * 5 + i.i * 29) % 256, 85) % 16 + 16)
                          * 16 + 8)
                         * (1 << ((xor((doc_id * 5 + i.i * 29) % 256, 85)
                                   // 16) % 8 - 1)) END) END
         END)
         FROM (SELECT unnest(generate_series(0, n - 1)) AS i) i
       ) AS BIGINT) AS sample_sum
FROM b
"""


QUERIES = {
    "mm_wav_roundtrip": _q_wav_roundtrip,
    "mm_wav_depths_roundtrip": _q_wav_depths_roundtrip,
    "mm_audio_features": _q_audio_features,
    "mm_audio_vad_segments": _q_vad_segments,
    "mm_audio_spectral": _q_audio_spectral,
    "mm_audio_normalize": _q_audio_normalize,
    "mm_audio_resample": _q_audio_resample,
    "mm_audio_fingerprint_dups": _q_audio_fingerprint_dups,
}
ORACLES = {
    "mm_wav_roundtrip": WAV_ROUNDTRIP_DUCK,
    "mm_wav_depths_roundtrip": WAV_DEPTHS_DUCK,
    "mm_audio_features": AUDIO_FEATURES_DUCK,
    "mm_audio_vad_segments": VAD_SEGMENTS_DUCK,
    "mm_audio_spectral": _audio_spectral_duck(),
    "mm_audio_normalize": AUDIO_NORMALIZE_DUCK,
    "mm_audio_resample": AUDIO_RESAMPLE_DUCK,
    "mm_audio_fingerprint_dups": _audio_fingerprint_duck(),
}
