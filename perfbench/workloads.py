"""The benchmark workloads: their ops, the warm builds their set-up
pays, how each op is run, and the checks on its output.

Every op goes through the engine's public entry points: registered
queries and stream twins through ``__spark_entry__.queries()``, the
reference's tabs through ``dataset_batch_processor_spark.pipeline``.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

import pyarrow.parquet as pq

import gen

WORKLOADS = {
    "reference_tabs": [
        "prepare_images", "tile_folder", "convert_images",
        "merge_text_folder", "split_text_file", "dedup_text_file",
    ],
    "llm_curation": [
        "dedup_exact_docs", "minhash_lsh_pairs", "minhash_jaccard_verify",
        "simhash_signatures", "docs_winnow_overlap_pairs", "emb_ivf_topk",
        "docs_bpe_tokens", "docs_quality_score",
        # the availableNow stream twin of the LSH pair search: its drain
        # runs inside the call and commits each micro-batch to two sinks
        "docs_incremental_lsh_pairs",
    ],
}
# Result caches an op owns and that are cleared before each of its
# runs, so every pass times the build, not a cached scan (as bench.py's
# DERIVED_CACHED does).
OWN_RESULT_CACHE = {"emb_ivf_topk": "anntopk_ivf"}


def warm_builds(workload: str, spark, data: str) -> list[tuple[str, str, object]]:
    """(layer, label, thunk) for the session artifacts the workload's
    ops consume; the same builders bench.py warms."""
    if workload == "llm_curation":
        from dataset_batch_processor_spark.operators import dedup, similarity
        from dataset_batch_processor_spark.streaming import incremental

        return [
            ("matcache", "minhash_sigs", lambda: dedup.minhash_sigs(spark, data).count()),
            ("matcache", "pair_graph", lambda: dedup.pair_graph(spark, data).count()),
            ("matcache", "ivf_flat_assign",
             lambda: similarity.ivf_flat_assign(spark, data).count()),
            ("streaming", "stage_inc_q", lambda: incremental.stage(spark, data)),
        ]
    return []


class Inputs:
    """Generated inputs of one run and the truth the checks use."""

    def __init__(self, workload: str, seed: int, root: str, scale: float = 1.0,
                 image_side: int = gen.IMAGE_SIDE, image_copies: int = 1) -> None:
        self.data = os.path.join(root, "data")
        self.truth: dict = {}
        if workload == "reference_tabs":
            self.images = os.path.join(self.data, "images")
            self.text = os.path.join(self.data, "text")
            self.truth["images"] = gen.write_images(seed, self.images,
                                                    image_side, image_copies)
            self.truth["text"] = gen.write_text(seed, self.text)
        else:
            gen.write_tables(workload, seed, self.data, scale)
        self.input_bytes = gen.dir_bytes(self.data)


# ------------------------------------------------------------------ running

def facade(name: str, spark, inp: Inputs, out: str):
    """Run one reference tab into ``out`` (fresh); returns RunResult."""
    from dataset_batch_processor_spark import pipeline
    from dataset_batch_processor_spark.operators.tiling import TileSpec

    os.makedirs(out, exist_ok=True)
    if name == "prepare_images":
        return pipeline.prepare_images(spark, inp.images, f"{out}/prepare",
                                       tile_size=gen.TILE, overlap_ratio=gen.OVERLAP)
    if name == "tile_folder":
        spec = TileSpec(tile_size=gen.TILE, overlap_ratio=gen.OVERLAP,
                        padding=gen.PADDING, caption=None)
        return pipeline.tile_folder(spark, inp.images, f"{out}/tiles", spec,
                                    export_sidecars=True, use_sidecar_captions=True)
    if name == "convert_images":
        return pipeline.convert_images(spark, inp.images, f"{out}/convert", "png")
    if name == "merge_text_folder":
        return pipeline.merge_text_folder(spark, inp.text, f"{out}/merged.txt")
    if name == "split_text_file":
        return pipeline.split_text_file(spark, inp.text, f"{out}/split",
                                        gen.SPLIT_RECORDS)
    if name == "dedup_text_file":
        return pipeline.dedup_text_file(spark, inp.text, f"{out}/purged.txt")
    raise KeyError(name)


# ------------------------------------------------------------------- checks

def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"bool:{v}"
    return str(v)


def value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: cells canonicalized as
    tools/verify_oracle.py does, columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Oracle:
    """DuckDB over the generated tables, running ``oracle_sql()``."""

    def __init__(self, data: str) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                 f"read_parquet('{os.path.join(data, f)}')")

    def expect(self, name: str) -> dict:
        res = self.con.execute(self.sql[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}


def check_query(got: dict | None, want: dict) -> list[str]:
    if not got:
        return ["no result"]
    errs = []
    if got["cols"] != want["cols"]:
        errs.append(f"columns {got['cols']} != {want['cols']}")
    if got["rows"] != want["rows"]:
        errs.append(f"rows {got['rows']} != {want['rows']}")
    elif got["hash"] != want["hash"]:
        errs.append("value hash differs")
    return errs


def check_facade(name: str, metrics: dict, out: str, truth: dict) -> list[str]:
    """Compare one tab's counters and files with the generator's truth.
    A missing output file or directory is an error, not an exception."""
    errs: list[str] = []

    def eq(what, got, want):
        if got != want:
            errs.append(f"{what}: got {got!r}, want {want!r}")

    def listdir(path: str) -> list[str]:
        if not os.path.isdir(path):
            errs.append(f"no output dir {os.path.relpath(path, out)}")
            return []
        return sorted(os.listdir(path))

    def read(path: str) -> str | None:
        if not os.path.isfile(path):
            errs.append(f"no output file {os.path.relpath(path, out)}")
            return None
        with open(path) as fh:
            return fh.read()

    def parquet_rows(path: str) -> list[dict]:
        if not os.path.exists(path):
            errs.append(f"no output table {os.path.relpath(path, out)}")
            return []
        return pq.read_table(path).to_pylist()

    imgs, txt = truth["images"], truth["text"]
    if name == "prepare_images":
        valid = [v["routed_ok"] for v in imgs["images"].values()]
        valid.append(imgs["truncated"]["routed_ok"])
        kept = sum(valid)
        eq("kept", metrics.get("kept"), kept)
        eq("moved", metrics.get("moved"), len(valid) - kept)
        eq("reports", metrics.get("reports"), len(valid) - kept)
        eq("quarantined", metrics.get("quarantined"), imgs["quarantined"])
        eq("report files", len(listdir(f"{out}/prepare/reports")), len(valid) - kept)
        routed = parquet_rows(f"{out}/prepare/routed")
        eq("routed rows", len(routed), len(valid))
    elif name == "tile_folder":
        want_tiles = sum(len(v["tiles"]) for v in imgs["images"].values())
        eq("tiles", metrics.get("tiles"), want_tiles)
        eq("failed", metrics.get("failed"), imgs["truncated"]["n_tiles"])
        rows = parquet_rows(f"{out}/tiles/tiles")
        seen = 0
        for r in rows:
            if r["error"] is not None:
                continue
            stem = r["id"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
            img = imgs["images"].get(stem)
            key = f"{r['i']},{r['j']}"
            if img is None or key not in img["tiles"]:
                errs.append(f"unexpected tile {stem} {key}")
                continue
            seen += 1
            if img["lossless"]:
                got = gen.digest(gen.rawrgb_pixels(r["content"]))
                if got != img["tiles"][key]:
                    errs.append(f"pixels differ: {stem} tile {key}")
            if r["caption"] != imgs["sidecars"].get(stem):
                errs.append(f"caption differs: {stem} tile {key}")
        eq("tile rows", seen, want_tiles)
        want_side = {f"{s}_tile_{k.replace(',', '_')}.txt": imgs["sidecars"][s]
                     for s, v in imgs["images"].items() if s in imgs["sidecars"]
                     for k in v["tiles"]}
        side_dir = f"{out}/tiles/sidecars"
        got_side = {f: read(os.path.join(side_dir, f)) for f in listdir(side_dir)}
        eq("sidecars", metrics.get("sidecars"), len(want_side))
        if got_side != want_side:
            errs.append(f"sidecar files differ ({len(got_side)} vs {len(want_side)})")
    elif name == "convert_images":
        eq("converted", metrics.get("converted"), len(imgs["images"]))
        eq("failed", metrics.get("failed"), imgs["undecodable"])
        for r in parquet_rows(f"{out}/convert/converted"):
            if r["error"] is not None:
                continue
            stem = r["id"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
            img = imgs["images"].get(stem)
            if img is None:
                errs.append(f"unexpected conversion {stem}")
                continue
            px = gen.png_pixels(r["content"])
            if px.shape[:2] != (img["h"], img["w"]):
                errs.append(f"converted size differs: {stem}")
            elif img["lossless"] and gen.digest(px) != img["digest"]:
                errs.append(f"converted pixels differ: {stem}")
    elif name == "merge_text_folder":
        eq("n_lines", metrics.get("n_lines"), txt["n_lines"])
        merged = read(f"{out}/merged.txt")
        if merged is not None and merged != txt["merged"]:
            errs.append("merged bytes differ")
    elif name == "split_text_file":
        eq("n_files", metrics.get("n_files"), len(txt["split"]))
        got = {f: read(os.path.join(out, "split", f))
               for f in listdir(f"{out}/split")}
        if got != txt["split"]:
            errs.append("split files differ")
    elif name == "dedup_text_file":
        d = txt["dedup"]
        for k in ("original", "unique", "removed"):
            eq(k, metrics.get(k), d[k])
        purged = read(f"{out}/purged.txt")
        if purged is not None and purged != d["bytes"]:
            errs.append("purged bytes differ")
    return errs


def tamper(truth: dict, want: dict, warm: dict, spec: str) -> None:
    """Self-test: ``NAME`` alters the op's expected output, ``NAME:missing``
    deletes the op's output from the warm-up pass (a tab's files, a
    query's collected result). Either way the op's check must fail."""
    name, _, how = spec.partition(":")
    if how == "missing":
        shutil.rmtree(os.path.join(warm["out"], name), ignore_errors=True)
        for rec in warm["ops"]:
            if rec["op"] == name and name not in WORKLOADS["reference_tabs"]:
                rec.pop("result", None)
        return
    if name in want:
        want[name] = dict(want[name], hash="0" * 64)
        return
    imgs, txt = truth.get("images", {}), truth.get("text", {})
    if name == "prepare_images":
        imgs["quarantined"] += 1
    elif name == "tile_folder":
        imgs["truncated"]["n_tiles"] += 1
    elif name == "convert_images":
        imgs["undecodable"] += 1
    elif name == "merge_text_folder":
        txt["merged"] += "x"
    elif name == "split_text_file":
        txt["split"]["split_extra.txt"] = ""
    elif name == "dedup_text_file":
        txt["dedup"]["unique"] += 1
