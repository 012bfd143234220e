"""Never-verified tripwire.

* every name in ``queries()`` must have a green row in
  ``VERIFY_LEDGER.json``, which tools/verify_oracle.py folds on every
  run (a FAIL erases the row). Registering a query and committing
  without a green verify_oracle run on it trips this test.
* every ``oracle_sql()`` key must name a registered query (a stray
  oracle is a dead row nothing would ever exercise).
"""

from __future__ import annotations

import importlib.util
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verified_names() -> set[str]:
    with open(os.path.join(REPO, "VERIFY_LEDGER.json")) as fh:
        return set(json.load(fh))


def test_every_registered_query_has_a_verification_row():
    import __spark_entry__ as entrymod

    registered = set(entrymod.queries())
    never = sorted(registered - _verified_names())
    assert not never, (
        f"{len(never)} registered queries have NO green row in "
        f"VERIFY_LEDGER.json — run "
        f"`python tools/verify_oracle.py /root/testdata/sf0.01 "
        f"{' '.join(never)}` and commit the ledger: {never}"
    )


def test_readme_query_count_matches_registry():
    """README once said 285 while the registry held 290; this fails
    any commit where the figure drifts again."""
    import __spark_entry__ as entrymod

    with open(os.path.join(REPO, "README.md")) as fh:
        m = re.search(r"entry\(\) \+ (\d+) driver queries", fh.read())
    assert m, "README.md lost the 'N driver queries' line"
    assert int(m.group(1)) == len(entrymod.queries()), (
        f"README.md says {m.group(1)} driver queries but the registry "
        f"has {len(entrymod.queries())} — update the layout line in "
        f"README.md"
    )


def test_every_oracle_names_a_registered_query():
    import __spark_entry__ as entrymod

    stray = sorted(set(entrymod.oracle_sql()) - set(entrymod.queries()))
    assert not stray, f"oracle_sql entries with no queries() twin: {stray}"


def test_ledger_fail_erases_green_row(tmp_path, monkeypatch):
    """A FAIL erases the query's ledger row (so the registered-query
    check fires until a later green run), and scale factors compare
    numerically, not lexicographically."""
    spec = importlib.util.spec_from_file_location(
        "verify_oracle", os.path.join(REPO, "tools", "verify_oracle.py")
    )
    vo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vo)

    ledger = tmp_path / "ledger.json"
    monkeypatch.setattr(vo, "LEDGER_PATH", str(ledger))
    vo._update_ledger({"q": {"status": "PASS"}}, "/data/sf0.1")
    assert json.load(open(ledger))["q"] == {"status": "PASS", "sf": "sf0.1"}
    # numerically smaller scale does not clobber the larger one
    vo._update_ledger({"q": {"status": "PASS"}}, "/data/sf0.02")
    assert json.load(open(ledger))["q"]["sf"] == "sf0.1"
    # lexicographically smaller but numerically larger DOES win
    vo._update_ledger({"q": {"status": "PASS"}}, "/data/sf10")
    assert json.load(open(ledger))["q"]["sf"] == "sf10"
    # a FAIL erases the row entirely
    vo._update_ledger({"q": {"status": "FAIL"}}, "/data/sf0.01")
    assert "q" not in json.load(open(ledger))


def test_coverage_doc_never_calls_a_real_module_a_stub():
    """COVERAGE.md <-> code consistency (r13 verdict minor): rounds 8
    and 12 closed the lossy-VP8 and vendor-RAW gaps but the doc rows
    kept saying "stub" for two more rounds. Pin the invariant: the
    word "stub" may appear in COVERAGE.md only inside an explicitly
    allowlisted phrase describing something that genuinely is stubbed
    (currently: nothing). A new legitimate stub must be added to the
    allowlist here together with its doc row."""
    allowed_phrases: set[str] = set()
    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        text = fh.read()
    for m in re.finditer(r"[^|\n]*stub[^|\n]*", text, re.IGNORECASE):
        phrase = m.group(0).strip()
        assert any(a in phrase for a in allowed_phrases), (
            f"COVERAGE.md mentions a stub outside the allowlist: "
            f"{phrase!r} — if this is a genuinely stubbed surface, "
            f"allowlist it here; if the module is real, fix the doc."
        )


def test_coverage_doc_never_claims_rows_only_when_ledger_is_clean():
    """Same failure mode as the "stub" tripwire, next word (VERDICT
    r14 wrong #2): emb_ivf_trained_topk was hash-gated in r14 but
    COVERAGE.md kept calling it "rows-only". While VERIFY_LEDGER.json
    records zero rows-only entries, the phrase must not appear in
    COVERAGE.md at all (except inside an explicit negation like "no
    longer rows-only" / "zero rows-only")."""
    with open(os.path.join(REPO, "VERIFY_LEDGER.json")) as fh:
        ledger = json.load(fh)
    rows_only_in_ledger = [
        k for k, v in ledger.items()
        if isinstance(v, dict) and v.get("status") not in ("PASS",)
    ]
    if rows_only_in_ledger:
        return  # ledger itself has non-hash-gated entries; doc may say so
    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        text = fh.read()
    for m in re.finditer(r"[^|\n]*rows-only[^|\n]*", text):
        phrase = m.group(0).strip()
        assert re.search(
            r"(no longer|zero|not|never)[^|]*rows-only", phrase
        ), (
            f"COVERAGE.md claims a rows-only check but the ledger is "
            f"fully hash-gated: {phrase!r} — fix the doc (or the "
            f"query actually regressed to rows-only; gate it)."
        )


def test_package_reads_only_deployment_env_settings():
    """Tuning constants live in code, next to the measurement that
    sized them; the environment carries only deployment settings (the
    core count and the warehouse path). An env-tunable constant is one
    more configuration nothing tests or benchmarks."""
    pkg = os.path.join(REPO, "dataset_batch_processor_spark")
    seen: set[str] = set()
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as fh:
                    seen |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", fh.read()))
    assert seen <= {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_WAREHOUSE"}, sorted(seen)


def test_no_python_file_pins_a_checkout_path():
    """Paths to the repository come from ``__file__``. A file that puts
    a literal absolute path on ``sys.path``, or names this checkout's
    own absolute path, imports the code at that fixed path: the suite
    run from any other checkout (a parent-commit copy, a CI workspace)
    would silently test another tree."""
    on_path = re.compile(r"sys\.path\.(?:insert|append)\([^)]*[\"']/")
    bad = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    text = fh.read()
                if REPO in text or on_path.search(text):
                    bad.append(os.path.relpath(path, REPO))
    assert not bad, sorted(bad)
