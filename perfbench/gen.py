"""Seeded input generator for the benchmark workloads.

Everything here depends only on the seed and the fixed sizes below; the
same seed gives byte-identical inputs. Truth for the ``reference_tabs``
checks is computed here from the generated pixels and lines, without
the engine. The query tables follow the testdata schema (FIXTURES.md):
``documents`` and ``embeddings``.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value column agg a big vector"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

# Table sizes per workload (fixed; the seed picks the rows, not the size).
TABLE_SIZES = {"llm_curation": {"documents": 600, "embeddings": 500}}
# One hot key shared by this share of documents: a common boilerplate
# block. 90 of 600 documents exceeds the winnow fingerprint cap (64)
# and the decontam stop-gram cap (50) and stays under the LSH/fuzzy
# bucket cap (256), which oracle_sql() does not model.
HOT_SHARE = 0.15
NEAR_DUP_SHARE = 0.05
EMB_DIM = 64
EMB_CLUSTERS = 10

# reference_tabs geometry: tile 64, overlap 0.5 -> step 32.
TILE, OVERLAP, PADDING = 64, 0.5, 0
STEP = TILE - int(OVERLAP * TILE)
TEXT_FILES, TEXT_LINES_PER_FILE, SPLIT_RECORDS = 6, 150, 50


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents with near-duplicate clusters (a copy of an
    earlier text plus " dup") and one hot boilerplate block shared by
    ``HOT_SHARE`` of the rows. Row order is a seeded permutation."""
    hot_block = _words(rng, 60)
    kinds = rng.permutation(
        ["hot"] * int(n * HOT_SHARE)
        + ["dup"] * int(n * NEAR_DUP_SHARE)
        + ["base"] * (n - int(n * HOT_SHARE) - int(n * NEAR_DUP_SHARE))
    )
    texts: list[str] = []
    for i, kind in enumerate(kinds):
        if kind == "hot":
            texts.append(hot_block + " " + _words(rng, 3))
        elif kind == "dup" and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(_words(rng, int(rng.integers(8, 90))))
    order = rng.permutation(n)
    doc_id = np.arange(n, dtype=np.int64)[order]
    text = [texts[i] for i in order]
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{d % 20}" for d in doc_id], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around ``EMB_CLUSTERS`` centers; the
    label is the center."""
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = centers[label] + 0.6 * rng.normal(size=(n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_tables(workload: str, seed: int, out_dir: str,
                 scale: float = 1.0) -> dict[str, int]:
    """Write the workload's query tables (``scale`` x the fixed sizes;
    the self-test shrinks them); returns bytes per file."""
    rng = np.random.default_rng([seed, 1])
    makers = {"documents": documents, "embeddings": embeddings}
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, n in TABLE_SIZES[workload].items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](rng, int(n * scale)), path)
        sizes[name] = os.path.getsize(path)
    return sizes


# ------------------------------------------------------------ images

def png_bytes(arr: np.ndarray) -> bytes:
    """8-bit RGB, filter 0 on every row (independent of the engine)."""
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def png_pixels(content: bytes) -> np.ndarray:
    """Decode an 8-bit RGB non-interlaced PNG (all five filters)."""
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(content):
        n = struct.unpack(">I", content[pos:pos + 4])[0]
        tag, data = content[pos + 4:pos + 8], content[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, inter = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, inter) != (8, 2, 0):
                raise ValueError("only 8-bit RGB non-interlaced PNG")
        elif tag == b"IDAT":
            idat += data
        pos += 12 + n
    raw = zlib.decompress(idat)
    stride, bpp = w * 3, 3
    out = np.zeros((h, stride), np.int64)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, np.uint8, stride, y * (stride + 1) + 1).astype(np.int64)
        if f == 0:
            cur = line
        elif f == 1:
            cur = np.cumsum(line.reshape(w, bpp), axis=0).reshape(-1) & 0xFF
        elif f == 2:
            cur = (line + prev) & 0xFF
        else:  # average / Paeth: sequential in x
            cur = np.zeros(stride, np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b, c = prev[x], (prev[x - bpp] if x >= bpp else 0)
                if f == 3:
                    p = (a + b) // 2
                else:
                    pa_, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    p = a if pa_ <= pb and pa_ <= pc else (b if pb <= pc else c)
                cur[x] = (line[x] + p) & 0xFF
        out[y], prev = cur, cur
    return out.astype(np.uint8).reshape(h, w, 3)


def rawrgb_bytes(arr: np.ndarray) -> bytes:
    """The engine's toy container: b"RAW1" + H + W + raw HxWx3 bytes."""
    h, w, _ = arr.shape
    return b"RAW1" + struct.pack(">II", h, w) + arr.tobytes()


def rawrgb_pixels(content: bytes) -> np.ndarray:
    h, w = struct.unpack(">II", content[4:12])
    return np.frombuffer(content[12:], np.uint8).reshape(h, w, 3)


def digest(arr: np.ndarray) -> str:
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    return hashlib.sha256(struct.pack(">II", *a.shape[:2]) + a.tobytes()).hexdigest()


def _picture(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([xx * 255 // max(w - 1, 1), yy * 255 // max(h - 1, 1),
                     (xx + yy) * 127 // max(h + w - 2, 1)], axis=2)
    noise = rng.integers(-12, 13, (h, w, 3))
    return np.clip(base + noise + rng.integers(0, 60), 0, 255).astype(np.uint8)


# (format, height, width); 64/96/128 sides tile cleanly at step 32,
# 80/112 do not, 40x48 is below the tile size. The benchmark multiplies
# every side but the too-small image's by IMAGE_SIDE (an odd multiple
# keeps which sides tile cleanly): at 1x, fixed per-job and per-task
# costs make ~85% of the image tabs' time; at 3x about half of it grows
# with the pixels (perfbench/sweep.py, numbers in manifest.json).
IMAGE_PLAN = (
    [("png", 128, 128), ("png", 96, 128), ("png", 128, 96), ("png", 80, 112),
     ("png", 64, 64), ("png", 112, 80), ("png", 96, 96), ("png", 40, 48)]
    + [("rawrgb", 128, 160), ("rawrgb", 96, 96), ("rawrgb", 112, 112),
       ("rawrgb", 64, 96)]
    + [("jpeg", 64, 64), ("jpeg", 80, 64)]
)
IMAGE_SIDE = 3
SIDECAR_SHARE = 0.75


def _tiles(h: int, w: int) -> list[tuple[int, int, int, int, int, int]]:
    """(i, j, left, top, right, bottom) per tile, as TileSpec(64, 0.5, 0)."""
    ht, vt = max(0, (w - PADDING) // STEP), max(0, (h - PADDING) // STEP)
    return [(i, j, i * STEP, j * STEP, min(i * STEP + TILE, w),
             min(j * STEP + TILE, h)) for j in range(vt) for i in range(ht)]


def _routed_ok(h: int, w: int) -> bool:
    return not (w < TILE or h < TILE or (w - TILE) % STEP or (h - TILE) % STEP)


def write_images(seed: int, out_dir: str, side: int = IMAGE_SIDE,
                 copies: int = 1) -> dict:
    """Image folder plus truth: per-image tile digests (lossless
    sources), route and quarantine counts, sidecar captions. ``side``
    multiplies the sides of every IMAGE_PLAN entry but the too-small
    one, ``copies`` repeats the plan (1 in the benchmark)."""
    from dataset_batch_processor_spark.multimodal.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    truth = {"images": {}, "quarantined": 0, "sidecars": {}, "undecodable": 0}
    plan = [(fmt, h * side, w * side) if min(h, w) >= TILE else (fmt, h, w)
            for fmt, h, w in IMAGE_PLAN] * copies
    order = rng.permutation(len(plan))
    for k, idx in enumerate(order):
        fmt, h, w = plan[idx]
        arr = _picture(rng, h, w)
        stem = f"img_{k:03d}_{fmt}"
        if fmt == "png":
            name, data = stem + ".png", png_bytes(arr)
        elif fmt == "rawrgb":  # sniffed by content, named like the tests do
            name, data = stem + ".png", rawrgb_bytes(arr)
        else:
            name, data = stem + ".jpg", encode_jpeg(arr, 85)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        tiles = _tiles(h, w)
        truth["images"][stem] = {
            "file": name, "fmt": fmt, "h": h, "w": w,
            "routed_ok": _routed_ok(h, w),
            "lossless": fmt != "jpeg",
            "tiles": {f"{i},{j}": digest(arr[t:b, lft:r])
                      for i, j, lft, t, r, b in tiles},
            "digest": digest(arr),
        }
        if rng.random() < SIDECAR_SHARE:
            cap = _words(rng, int(rng.integers(3, 8)))
            with open(os.path.join(out_dir, stem + ".txt"), "w") as fh:
                fh.write(cap + "\n")
            truth["sidecars"][stem] = cap
    # a corrupt header (quarantined) and a truncated body (header
    # parses, decode fails): both are scanned, neither yields pixels
    with open(os.path.join(out_dir, "broken_header.jpg"), "wb") as fh:
        fh.write(b"\xff\xd8nope" + rng.bytes(32))
    truth["quarantined"] = 1
    full = png_bytes(_picture(rng, 96, 96))
    with open(os.path.join(out_dir, "truncated_body.png"), "wb") as fh:
        fh.write(full[: len(full) // 2])
    truth["truncated"] = {"h": 96, "w": 96, "routed_ok": True,
                          "n_tiles": len(_tiles(96, 96))}
    truth["undecodable"] = 2
    return truth


def write_text(seed: int, out_dir: str) -> dict:
    """Line files with planted duplicate lines (within and across
    files); truth holds the merged bytes, split files and dedup."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    pool: list[str] = []
    files = {}
    for f in range(TEXT_FILES):
        lines = []
        for _ in range(TEXT_LINES_PER_FILE):
            if pool and rng.random() < 0.2:
                lines.append(pool[int(rng.integers(0, len(pool)))])
            else:
                s = _words(rng, int(rng.integers(2, 12)))
                pool.append(s)
                lines.append(s)
        files[f"part_{f:02d}.txt"] = lines
        with open(os.path.join(out_dir, f"part_{f:02d}.txt"), "w") as fh:
            fh.write("".join(s + "\n" for s in lines))
    all_lines = [s for name in sorted(files) for s in files[name]]
    seen, kept = set(), []
    for s in all_lines:
        if s not in seen:
            seen.add(s)
            kept.append(s)
    n_split = -(-len(all_lines) // SPLIT_RECORDS)
    return {
        "n_lines": len(all_lines),
        "merged": "\n\n".join(all_lines),
        "split": {f"split_{k}.txt": "".join(
            s + "\n" for s in all_lines[k * SPLIT_RECORDS:(k + 1) * SPLIT_RECORDS])
            for k in range(n_split)},
        "dedup": {"original": len(all_lines), "unique": len(kept),
                  "removed": len(all_lines) - len(kept),
                  "bytes": "".join(s + "\n" for s in kept)},
    }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
