"""pHash: kernel-vs-SQL bit parity and hash invariances."""

from __future__ import annotations

import numpy as np
import pytest

from dataset_batch_processor_spark.operators import phash


def _lattice_img(d: int) -> np.ndarray:
    g, v = d % 250, d // 250
    w, h = g % 12 + 16, g % 9 + 16
    y, x = np.mgrid[0:h, 0:w]
    a = (x * x * (g % 7 + 1) + y * y * (g % 11 + 1) + x * y * (g % 5)
         + g * 13 + np.where((x * 7 + y * 5) % 29 == 0, v * 37, 0)) % 256
    return np.stack(
        [a, (a * 2 + 11) % 256, (a * 3 + 22) % 256], axis=-1
    ).astype(np.uint8)


def test_kernel_matches_sql_hashes_bit_for_bit():
    """The production kernel and the lattice SQL path must produce
    identical band values for every fixture image — the same twin
    contract imagedup pins for dHash."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM range(60) t(doc_id)")
    sql = phash.PHASH_PAIRS_DUCK
    hashes_sql = (
        sql[: sql.index(",\ncand AS")]
        + "\nSELECT doc_id, b0, b1, b2, b3 FROM hashes ORDER BY doc_id"
    )
    expected = {r[0]: tuple(r[1:]) for r in con.execute(hashes_sql).fetchall()}
    for d in range(60):
        assert phash.phash_hash_array(_lattice_img(d)) == expected[d], d


def test_hash_constant_shift_flips_few_bits():
    """A small uniform brightness shift perturbs only low-energy AC
    coefficients near the median — the hash must move by a small
    Hamming distance, not scramble."""
    a = _lattice_img(7).astype(np.int64)
    b = np.clip(a + 3, 0, 255).astype(np.uint8)
    ha = phash.phash_hash_array(a.astype(np.uint8))
    hb = phash.phash_hash_array(b)
    ham = sum(bin(x ^ y).count("1") for x, y in zip(ha, hb))
    assert ham <= phash.PHASH_HAMMING_MAX


def test_hash_differs_for_unrelated_images():
    ha = phash.phash_hash_array(_lattice_img(3))
    hb = phash.phash_hash_array(_lattice_img(104))
    ham = sum(bin(x ^ y).count("1") for x, y in zip(ha, hb))
    assert ham > phash.PHASH_HAMMING_MAX


def test_empty_image_rejected():
    with pytest.raises(ValueError):
        phash.phash_hash_array(np.zeros((0, 5, 3), dtype=np.uint8))
