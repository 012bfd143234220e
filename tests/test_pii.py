"""PII census/redaction audit: Python-re replay of the census and
the one-pass fixed-point property of the typed redaction."""

from __future__ import annotations

import re

from dataset_batch_processor_spark import catalog
from dataset_batch_processor_spark.operators import pii


def _plant(doc_id: int, text: str) -> str:
    out = text
    if doc_id % pii.EMAIL_MOD == pii.EMAIL_REM:
        out += f" contact user{doc_id}@example{doc_id % 7}.org"
    if doc_id % pii.PHONE_MOD == pii.PHONE_REM:
        out += f" call +1-555-{doc_id % 1000:03d}-{doc_id % 10000:04d}"
    if doc_id % pii.IP_MOD == pii.IP_REM:
        out += (
            f" host 10.{doc_id % 256}.{(doc_id // 256) % 256}"
            f".{doc_id % 100}"
        )
    return out


def test_scan_counts_match_python_re(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    got = {
        r.source: (r.n_docs, r.docs_with_email, r.docs_with_phone,
                   r.docs_with_ip, r.n_matches)
        for r in spark.sql(pii._scan_sql("spark")).collect()
    }
    pats = {
        k: re.compile(p)
        for k, p in (("e", pii.EMAIL_RE), ("p", pii.PHONE_RE),
                     ("i", pii.IP_RE))
    }
    exp: dict = {}
    for r in docs.collect():
        t = _plant(r.doc_id, r.text)
        ne = len(pats["e"].findall(t))
        np_ = len(pats["p"].findall(t))
        ni = len(pats["i"].findall(t))
        d = exp.setdefault(r.source, [0, 0, 0, 0, 0])
        d[0] += 1
        d[1] += ne > 0
        d[2] += np_ > 0
        d[3] += ni > 0
        d[4] += ne + np_ + ni
    assert got == {s: tuple(v) for s, v in exp.items()}
    assert sum(v[4] for v in exp.values()) > 0, "plants must fire"


def test_redaction_reaches_fixed_point(spark, sf_dir):
    docs = catalog.load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    rows = spark.sql(pii._redact_sql("spark")).collect()
    assert rows and all(r.rescan_matches == 0 for r in rows)
    # every planted doc lost characters; clean docs lost none
    planted = {
        r.doc_id for r in rows if r.chars_removed > 0
    }
    expected_planted = {
        r.doc_id
        for r in docs.collect()
        if r.doc_id % pii.EMAIL_MOD == pii.EMAIL_REM
        or r.doc_id % pii.PHONE_MOD == pii.PHONE_REM
        or r.doc_id % pii.IP_MOD == pii.IP_REM
    }
    assert planted == expected_planted


def test_k_anonymity_card_matches_python_replay(spark, sf_dir):
    from collections import Counter, defaultdict

    from dataset_batch_processor_spark import catalog

    cust = catalog.load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer")
    got = spark.sql(pii._k_anon_sql("spark")).collect()[0]
    size = Counter()
    sens = defaultdict(set)
    for r in cust.collect():
        qi = (r.c_nationkey, r.c_mktsegment, 1 if r.c_acctbal < 0 else 0)
        size[qi] += 1
        sens[qi].add(r.c_acctbal)
    n = sum(size.values())
    singles = sum(1 for v in size.values() if v == 1)
    assert got.n_rows == n
    assert got.n_classes == len(size)
    assert got.min_class_size == min(size.values())
    assert got.k5_violating_rows == sum(
        v for v in size.values() if v < pii.K_ANON
    )
    assert got.singleton_rows == singles
    assert got.reident_risk_ppm == singles * 1_000_000 // n
    assert got.min_l_diversity == min(len(s) for s in sens.values())
    assert got.l2_violating_rows == sum(
        size[q] for q, s in sens.items() if len(s) < 2
    )
