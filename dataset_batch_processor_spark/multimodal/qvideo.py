"""Video queries: deterministic frame sampling, scene-cut detection,
and the AVI/MJPEG container roundtrip. Split out of
multimodal/queries.py in round 10; kernels live in av.py/jpeg.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .qcommon import per_doc


# --------------------------------------------------- video frame sampling
# Drives the REAL av.sample_frames operator (1 video row -> K frame
# rows, the video analogue of tile_grid) under the driver's hash gate:
# each sampled doc_id yields a deterministic rawvid clip (flat-index
# pixel lattice), every 3rd frame is sampled and re-encoded as a
# rawrgb payload by the operator, and a second kernel decodes each
# payload and checksums its pixels. The DuckDB oracle recomputes
# frame indices, timestamps, and pixel sums in closed form — a hash
# match proves the fan-out, the frame stride, the fps->timestamp
# math, and the rawvid->rawrgb byte plumbing end-to-end.

_FS_H, _FS_W, _FS_FPS, _FS_STRIDE = 6, 8, 10, 3

FRAME_SAMPLE_CK_SCHEMA = (
    "doc_id long, frame_idx int, ts_s double, "
    "frame_h int, frame_w int, pix_sum bigint"
)


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import av, binary

    def row(d):
        n = d % 9 + 4
        f = np.arange(n, dtype=np.int64)[:, None]
        i = np.arange(_FS_H * _FS_W * 3, dtype=np.int64)[None, :]
        px = ((d * 13 + f * 17 + i * 3) % 256).astype(np.uint8)
        frames = px.reshape(n, _FS_H, _FS_W, 3)
        yield str(d), "rawvid", av.encode_rawvid(frames, fps=_FS_FPS)

    vids = per_doc(spark, sf_dir, "id string, fmt string, content binary",
                   row, mod=5, sized=True)
    sampled = av.sample_frames(vids, every_n=_FS_STRIDE)

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = binary.decode_rawrgb(bytes(row.content))
                out.append(
                    {
                        "doc_id": int(row.id),
                        "frame_idx": int(row.frame_idx),
                        "ts_s": float(row.ts_s),
                        "frame_h": int(arr.shape[0]),
                        "frame_w": int(arr.shape[1]),
                        "pix_sum": int(arr.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "frame_idx", "ts_s",
                    "frame_h", "frame_w", "pix_sum",
                ],
            )

    return sampled.mapInPandas(checksum, schema=FRAME_SAMPLE_CK_SCHEMA)


FRAME_SAMPLE_DUCK = f"""
WITH vids AS (
  SELECT doc_id, doc_id % 9 + 4 AS n_frames
  FROM documents WHERE doc_id % 5 = 0
),
frames AS (
  SELECT doc_id,
         unnest(range(0, CAST(n_frames AS BIGINT), {_FS_STRIDE}))
           AS frame_idx
  FROM vids
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx AS DOUBLE) / {_FS_FPS} AS ts_s,
       CAST({_FS_H} AS INT) AS frame_h,
       CAST({_FS_W} AS INT) AS frame_w,
       CAST(list_sum(list_transform(
              generate_series(0, {_FS_H * _FS_W * 3 - 1}),
              i -> (doc_id * 13 + frame_idx * 17 + i * 3) % 256))
            AS BIGINT) AS pix_sum
FROM frames
"""


# --------------------------------------------- video scene-cut detect
# Drives av.scene_changes (adjacent-frame difference energy, the
# keyframe-selection primitive) under the hash gate. The fixture
# plants exactly one cut per clip: pixels follow the frame-sample
# lattice plus a +128 level jump from the midpoint frame onward, so
# the cut boundary's difference energy (~16k/pixel across the mod-256
# wrap) separates cleanly from the inter-frame pan (~4k/pixel at
# shift 17). The oracle recomputes every pixel difference closed-form
# — threshold, wrap arithmetic, and framing are all pinned.

_SC_THRESH = _FS_H * _FS_W * 3 * 8000  # between pan and cut energy


def _q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from . import av

    def row(d):
        n = d % 9 + 4
        cut = n // 2
        f = np.arange(n, dtype=np.int64)[:, None]
        i = np.arange(_FS_H * _FS_W * 3, dtype=np.int64)[None, :]
        px = (
            (d * 13 + f * 17 + i * 3 + (f >= cut) * 128) % 256
        ).astype(np.uint8)
        frames = px.reshape(n, _FS_H, _FS_W, 3)
        yield str(d), av.encode_rawvid(frames, fps=_FS_FPS)

    vids = per_doc(spark, sf_dir, "id string, content binary", row, mod=5,
                   sized=True)
    return av.scene_changes(vids, energy_thresh=_SC_THRESH)


_SC_PIX = (
    "(doc_id * 13 + ({f}) * 17 + i * 3"
    " + CASE WHEN ({f}) >= cut THEN 128 ELSE 0 END) % 256"
)

VIDEO_SCENE_CUTS_DUCK = f"""
WITH vids AS (
  SELECT doc_id, doc_id % 9 + 4 AS n, (doc_id % 9 + 4) // 2 AS cut
  FROM documents WHERE doc_id % 5 = 0
),
bounds AS (
  SELECT doc_id, cut, unnest(generate_series(0, n - 2)) AS f FROM vids
),
scored AS (
  SELECT doc_id, f,
         CAST(list_sum(list_transform(
           list_transform(generate_series(0, {_FS_H * _FS_W * 3 - 1}),
             i -> ({_SC_PIX.format(f="f + 1")})
                - ({_SC_PIX.format(f="f")})),
           d -> d * d)) AS BIGINT) AS delta_energy
  FROM bounds
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(f AS INT) AS frame_idx,
       delta_energy,
       delta_energy > {_SC_THRESH} AS is_cut,
       CAST(NULL AS VARCHAR) AS error
FROM scored
"""


AVI_SCHEMA = (
    "doc_id long, n_frames int, fps int, implied_dht boolean, "
    "within_tol boolean, dht_forms_equal boolean"
)


def _q_avi_mjpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-AVI (round 8 late): smooth ramp frames encoded into a
    real AVI container (hdrl/strl/movi/idx1), decoded through the
    VIDEO registry, frame pixels within the JPEG tolerance; odd docs
    emit the OpenDML implied-DHT form (frames without Huffman tables)
    and additionally assert it decodes bit-identically to the
    explicit-table form — the splice path under the gate."""
    import numpy as np

    from . import av as avmod

    def row(d):
        n = d % 5 + 2
        h, w = d % 10 + 8, d % 15 + 8
        fps = (10, 24, 30)[d % 3]
        implied = bool(d % 2)
        y, x = np.mgrid[0:h, 0:w]
        frames = np.stack([
            np.stack(
                [x * 3 + k * 10 + d % 50, y * 4 + k * 5, x + y + k * 7],
                axis=2,
            ).astype(np.uint8)
            for k in range(n)
        ])
        data = avmod.encode_avi_mjpeg(frames, fps=fps, strip_dht=implied)
        dec, got_fps = avmod.VIDEO_CODECS["avi"](data)
        err = int(np.abs(dec.astype(int) - frames.astype(int)).max())
        alt, _ = avmod.decode_avi_mjpeg(
            avmod.encode_avi_mjpeg(frames, fps=fps, strip_dht=not implied)
        )
        yield (d, int(dec.shape[0]), int(got_fps), implied,
               bool(err <= 8 and dec.shape == (n, h, w, 3)),
               bool(np.array_equal(dec, alt)))

    return per_doc(spark, sf_dir, AVI_SCHEMA, row, mod=13, rem=6)


AVI_DUCK = """
SELECT doc_id,
       CAST(doc_id % 5 + 2 AS INT) AS n_frames,
       CAST(CASE doc_id % 3 WHEN 0 THEN 10 WHEN 1 THEN 24 ELSE 30 END
            AS INT) AS fps,
       doc_id % 2 = 1 AS implied_dht,
       TRUE AS within_tol,
       TRUE AS dht_forms_equal
FROM documents
WHERE doc_id % 13 = 6
"""


QUERIES = {
    "mm_frame_sample": _q_frame_sample,
    "mm_video_scene_cuts": _q_video_scene_cuts,
    "mm_avi_mjpeg_roundtrip": _q_avi_mjpeg_roundtrip,
}
ORACLES = {
    "mm_frame_sample": FRAME_SAMPLE_DUCK,
    "mm_video_scene_cuts": VIDEO_SCENE_CUTS_DUCK,
    "mm_avi_mjpeg_roundtrip": AVI_DUCK,
}
