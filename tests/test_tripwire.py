"""Never-verified tripwire.

* every name in ``queries()`` must have a green row in
  ``VERIFY_LEDGER.json``, which tools/verify_oracle.py folds on every
  run (a FAIL erases the row). Registering a query and committing
  without a green verify_oracle run on it trips this test.
* every ``oracle_sql()`` key must name a registered query (a stray
  oracle is a dead row nothing would ever exercise).
* every package definition is reached from non-test code, or sits on
  an allowlist with the reason tests alone may reach it.
"""

from __future__ import annotations

import ast
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
    for rel in _python_files():
        with open(os.path.join(REPO, rel)) as fh:
            text = fh.read()
        if REPO in text or on_path.search(text):
            bad.append(rel)
    assert not bad, sorted(bad)


def _python_files() -> list[str]:
    """Every ``*.py`` of the checkout, relative to it."""
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        out += [
            os.path.relpath(os.path.join(root, name), REPO)
            for name in files if name.endswith(".py")
        ]
    return sorted(out)


def _names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names a tree uses (``Name``, ``Attribute`` and import aliases),
    leaving out the subtree ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        stack.extend(ast.iter_child_nodes(node))
    return out


def _unreached_definitions() -> dict[str, bool]:
    """Top-level package ``def``/``class`` names that no non-test file
    uses outside the definition's own body, keyed ``module.name``; the
    value says whether a test uses the name. Uses are read from the
    syntax tree, not from name tokens: an f-string's body is code that
    calls (a SQL builder), and a docstring's mention calls nothing."""
    trees = {}
    for rel in _python_files():
        with open(os.path.join(REPO, rel)) as fh:
            trees[rel] = ast.parse(fh.read(), rel)
    tests = "tests" + os.sep
    in_tests = set().union(
        *(_names(t) for rel, t in trees.items() if rel.startswith(tests))
    )
    elsewhere = {
        rel: _names(t) for rel, t in trees.items()
        if not rel.startswith(tests)
    }
    pkg = "dataset_batch_processor_spark" + os.sep
    out = {}
    for rel, tree in trees.items():
        if not rel.startswith(pkg):
            continue
        module = rel[len(pkg):-len(".py")].replace(os.sep, ".")
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if node.name.startswith("__") or node.name in _names(tree, node):
                continue
            if any(node.name in names for other, names in elsewhere.items()
                   if other != rel):
                continue
            out[f"{module}.{node.name}"] = node.name in in_tests
    return out


# Package definitions that only tests reach, each with why it stays.
TEST_ONLY_DEFINITIONS = {
    # references and inverse encoders that tests compare against
    "multimodal.av.encode_rawpcm": "inverse encoder the rawpcm decoder tests round-trip through",
    "multimodal.av.mulaw_compress": "G.711 mu-law encoder the mu-law decoder is checked against",
    "multimodal.av.alaw_compress": "G.711 A-law encoder the A-law decoder is checked against",
    "multimodal.vp8.encode_webp_vp8": "inverse encoder the WebP/VP8 decoder tests round-trip through",
    "operators.chat.render_py": "Python reference of the SQL chat-template render",
    "operators.chat.loss_spans_py": "Python reference of the SQL assistant loss spans",
    "operators.bpe.bpe_apply_tokens": "Python reference of the SQL BPE merge fold",
    "operators.imagedup.lattice_image": "numpy reference of the SQL pixel lattice",
    "operators.phash.phash_hash_array": "per-image pHash reference of the lattice kernel and SQL",
    # plan audits: the plan shapes stay as constraints
    "plans.audit.audit_registry": "registry-wide plan audit the plan tests run",
    "plans.explain.has_pushed_filter": "pushdown assertion of the plan tests",
    "plans.explain.read_schema_columns": "column-pruning assertion of the plan tests",
    # reference parity not wired into a query or facade yet
    "sources.text.load_caption_dictionary": "S9 caption-dictionary loader",
    "sources.text.read_lines_exact": "exact-byte line identity (SURVEY 1.4)",
    "operators.textops.dedup_lines_exact_bytes": "exact-byte line identity (SURVEY 1.4)",
    "sources.jsonl.split_jsonl_preserving_lines": "the Split JSONL tab",
    "ops.run_cancellable": "the Stop button; ROADMAP item 1 wires its record",
    # named by a live error message
    "sources.tabular.read_csv_multiline": "write_csv's embedded-newline error names it",
    # test drivers of live stream steps
    "streaming.incremental.run_incremental_over_dir": "drives the live lsh_step over a staged folder",
    "streaming.turndedup.run_turn_admission_over_dir": "drives the live turn-admission step over a staged folder",
    # F7 accessors and a public name for live logic
    "sources.images.quarantine": "F7 accessor: the rows an image read quarantined",
    "sources.jsonl.jsonl_quarantine": "F7 accessor: the rows a JSONL read quarantined",
    "operators.dsir.dsir_bucket_weights": "public name for the live DSIR bucket weights",
}


def test_every_package_definition_is_reached():
    """No query, facade, example, tool or benchmark reaching a package
    definition means it is dead weight, unless it is allowlisted above
    with a reason. An allowlisted name must still exist, stay reached
    by tests and stay unreached elsewhere, so the list cannot rot."""
    unreached = _unreached_definitions()
    dead = sorted(set(unreached) - set(TEST_ONLY_DEFINITIONS))
    assert not dead, (
        f"package definitions no non-test code reaches (delete them, or "
        f"allowlist them with a reason): {dead}"
    )
    stale = sorted(
        name for name in TEST_ONLY_DEFINITIONS if not unreached.get(name)
    )
    assert not stale, (
        f"allowlisted definitions that are gone, reached from non-test "
        f"code again, or reached by no test: {stale}"
    )
