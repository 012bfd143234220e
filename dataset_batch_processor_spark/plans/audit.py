"""Registry-wide physical-plan audit (scale-shape tripwires).

Correctness gates (tools/verify_oracle.py) prove every query returns
the oracle's rows; this module pins that each plan would also SURVIVE
scale — the three structural anti-patterns that are invisible at
sf0.01 and fatal at 100 TB:

- ``unpartitioned-window``: a window function with no PARTITION BY
  serializes its whole input through ONE task. The sanctioned
  exception is the ``_pid`` totals pass of the two-pass prefix-sum
  machinery (textops.attach_rank) — one row PER PARTITION, bounded by
  cluster size, the intended k-row funnel.
- ``cartesian``: CartesianProduct = |left| x |right| with both sides
  shuffled; even a "small" side explodes. Deliberate query-panel x
  corpus scorers must broadcast the bounded side instead
  (BroadcastNestedLoopJoin).
- ``bnlj-unbounded-broadcast``: a BroadcastNestedLoopJoin whose BUILD
  side shows no structural bound (global agg / limit / bounded
  leaves) and no declared ``_bb_`` bound — a corpus-sized broadcast
  that OOMs executors long before the nested loop finishes.
- ``rowwise-python``: BatchEvalPython is the row-at-a-time Python UDF
  path (pickle per row); every kernel here is Arrow-batched
  (ArrowEvalPython / mapInPandas — allowed).

``audit_plan`` works on the explain(formatted) text so it composes
with the existing plan-pin helpers; ``audit_registry`` sweeps every
driver-contract query and returns {name: [violations]} for the
pinned sweep test; tools/verify_oracle.py audits each query it runs.
"""

from __future__ import annotations

import re

from . import explain

# Window partition spec prefixes that are sanctioned by design (the
# one-row-per-partition totals pass of the prefix-sum machinery).
SANCTIONED_WINDOW_PREFIXES = ("_pid",)


def _first_toplevel_arg(plan: str, start: int) -> str:
    """Text from ``start`` up to the first comma or close-paren at
    paren depth 0 — the windowspecdefinition's first argument even
    when it is itself a parenthesized expression like
    ``cast(x#1 as bigint) ASC NULLS FIRST`` (ADVICE r14: the old
    ``[^,)]*`` regex truncated at the cast's ')' and silently dropped
    the ASC/DESC marker, a false negative in the gate)."""
    depth = 0
    i = start
    while i < len(plan):
        c = plan[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif c == "," and depth == 0:
            break
        i += 1
    return plan[start:i]


def unpartitioned_windows(plan: str) -> list[str]:
    """Window specs whose FIRST argument is already a sort spec —
    i.e. no partition columns. ``windowspecdefinition(part..., col
    ASC ..., frame)``: with no partitioning the first argument
    carries an ASC/DESC marker. The first argument is extracted with
    a paren-depth scan, not a regex, so parenthesized ORDER BY
    expressions cannot hide the marker."""
    return [
        arg
        for m in re.finditer(r"windowspecdefinition\(", plan)
        for arg in (_first_toplevel_arg(plan, m.end()),)
        if re.search(r"\s(ASC|DESC)\b", arg)
        and not arg.startswith(SANCTIONED_WINDOW_PREFIXES)
    ]


# --- BroadcastNestedLoopJoin guard (r14 verdict item 6) ------------
#
# A BNLJ is |probe| x |build| work and |build| broadcast bytes; it is
# only scale-safe when the BUILD side is structurally bounded. The
# engine's contract: every deliberate BNLJ build side must show one of
# these bounded shapes in its own subtree —
#   - a global aggregate (``Keys: []``) -> exactly one row,
#   - a Limit (GlobalLimit / CollectLimit / TakeOrderedAndProject) ->
#     explicit k-row cap (filter-defined query panels carry one),
#   - only bounded leaves (LocalTableScan = driver-side k-row witness,
#     OneRowRelation = literal enumeration, literal ``Range (a, b)``
#     with ``b - a <=`` :data:`MAX_BOUNDED_RANGE` = salt/grid spine),
#   - a DECLARED bound: any BroadcastExchange input column named with
#     the :data:`DECLARED_BOUNDED_PREFIX` — the reviewed-in-code
#     annotation for relations whose bound is semantic, not structural
#     (a date spine, a fixed hash-bucket histogram). Renaming a column
#     ``_bb_*`` is a greppable claim that its domain is bounded.
# Anything else (e.g. a corpus-sized scan broadcast by a bad hint or a
# misestimated size) is tagged ``bnlj-unbounded-broadcast``.

MAX_BOUNDED_RANGE = 65536

#: column-name prefix declaring a semantically bounded broadcast side
DECLARED_BOUNDED_PREFIX = "_bb_"

_BOUNDED_NODE_NAMES = (
    "LocalTableScan",
    "GlobalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
    "ReusedExchange",  # re-reads an exchange audited at its first site
)

_BOUNDED_LEAVES = ("LocalTableScan", "Scan OneRowRelation")


def _tree_lines(plan: str) -> list[str]:
    """The indented tree at the top of explain(formatted)."""
    out, started = [], False
    for ln in plan.splitlines():
        if ln.startswith("== Physical Plan =="):
            started = True
            continue
        if started:
            if not ln.strip():
                break
            out.append(ln)
    return out


def _tree_depth(line: str) -> int:
    """Indentation depth of a tree line. The whole-stage-codegen
    ``* `` marker is part of the node label, not the indent — counting
    it would make a starred sibling look like a child."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


_NODE_ID_RE = re.compile(r"\((\d+)\)\s*$")


def _details_by_id(plan: str) -> dict[int, str]:
    """node id -> its detail block text (the ``(N) Name`` sections)."""
    out: dict[int, str] = {}
    cur_id: int | None = None
    cur: list[str] = []
    for ln in plan.splitlines():
        m = re.match(r"^\((\d+)\) \S", ln)
        if m:
            if cur_id is not None:
                out[cur_id] = "\n".join(cur)
            cur_id = int(m.group(1))
            cur = [ln]
        elif cur_id is not None:
            if not ln.strip() and cur and not cur[-1].strip():
                out[cur_id] = "\n".join(cur)
                cur_id = None
                cur = []
            else:
                cur.append(ln)
    if cur_id is not None:
        out[cur_id] = "\n".join(cur)
    return out


def _subtree(lines: list[str], root_idx: int) -> list[str]:
    d = _tree_depth(lines[root_idx])
    sub = [lines[root_idx]]
    for nxt in lines[root_idx + 1:]:
        if _tree_depth(nxt) <= d:
            break
        sub.append(nxt)
    return sub


def _node_name(line: str) -> str:
    return re.sub(r"^[\s:+\-*]*", "", line).split(" (")[0].strip()


def _is_bounded_leaf(name: str, nid: int | None,
                     details: dict[int, str]) -> bool:
    if name.startswith(_BOUNDED_LEAVES):
        return True
    if name == "Range" and nid in details:
        rm = re.search(r"Range \((-?\d+), (-?\d+)", details[nid])
        return bool(
            rm and int(rm.group(2)) - int(rm.group(1)) <= MAX_BOUNDED_RANGE
        )
    return False


def _is_bounded_build(sub: list[str], details: dict[int, str]) -> bool:
    """``sub[0]`` is the BroadcastExchange line; the rest its subtree."""
    m = _NODE_ID_RE.search(sub[0])
    ex_id = int(m.group(1)) if m else None
    if ex_id in details and re.search(
        rf"^Input(?: \[\d+\])?: \[[^\]]*\b{DECLARED_BOUNDED_PREFIX}",
        details[ex_id],
        re.MULTILINE,
    ):
        return True  # declared-bounded relation (reviewed annotation)
    leaves_bounded = True
    saw_leaf = False
    for idx, ln in enumerate(sub[1:], start=1):
        name = _node_name(ln)
        m = _NODE_ID_RE.search(ln)
        nid = int(m.group(1)) if m else None
        if name.startswith(_BOUNDED_NODE_NAMES):
            return True
        if "Aggregate" in name and nid in details and re.search(
            r"^Keys(?: \[\d+\])?: \[\]", details[nid], re.MULTILINE
        ):
            return True
        # leaf = a tree line with no deeper line directly following it
        is_leaf = (
            idx + 1 >= len(sub)
            or _tree_depth(sub[idx + 1]) <= _tree_depth(ln)
        )
        if is_leaf:
            saw_leaf = True
            if not _is_bounded_leaf(name, nid, details):
                leaves_bounded = False
    return saw_leaf and leaves_bounded


def unbounded_bnlj(plan: str) -> list[str]:
    """BroadcastNestedLoopJoin nodes whose build-side subtree shows no
    structural bound (global agg / LocalTableScan / Limit / literal
    small Range). Returns one tag per offending BNLJ node id."""
    lines = _tree_lines(plan)
    details = _details_by_id(plan)
    bad = []
    for idx, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        d = _tree_depth(ln)
        m = _NODE_ID_RE.search(ln)
        bnlj_id = m.group(1) if m else "?"
        # the build side is the BroadcastExchange child subtree
        bounded = False
        sub = _subtree(lines, idx)
        for j in range(1, len(sub)):
            if (
                "BroadcastExchange" in sub[j] or "ReusedExchange" in sub[j]
            ) and _tree_depth(sub[j]) == d + 3:
                if "ReusedExchange" in sub[j] or _is_bounded_build(
                    _subtree(sub, j), details
                ):
                    bounded = True
        if not bounded:
            bad.append(f"node {bnlj_id}")
    return bad


def audit_plan(plan: str) -> list[str]:
    """Violation tags found in one explain(formatted) text."""
    out = []
    for spec in unpartitioned_windows(plan):
        out.append(f"unpartitioned-window({spec.strip()})")
    if re.search(r"^\(\d+\) CartesianProduct\b", plan, re.MULTILINE):
        out.append("cartesian")
    if re.search(r"^\(\d+\) BatchEvalPython\b", plan, re.MULTILINE):
        out.append("rowwise-python")
    for tag in unbounded_bnlj(plan):
        out.append(f"bnlj-unbounded-broadcast({tag})")
    return out


def audit_df(df) -> list[str]:
    return audit_plan(explain.formatted_plan(df))


def audit_registry(
    spark,
    sf_dir: str,
    names: list[str] | None = None,
    on_error: str = "record",
    max_workers: int = 8,
) -> dict[str, list[str]]:
    """Build every registered query's DataFrame and audit its plan.

    Returns only the entries with violations (or build errors when
    ``on_error='record'``, tagged ``build-error: ...``). Building a
    query MAY run eager work (staged fixtures, bounded collects) —
    that is the query's real construction path, exactly what the
    driver runs.

    Builds run on ``max_workers`` threads (r14 verdict item 8: the
    sequential sweep was ~200 s of the test suite). Safe because the
    build step is py4j socket I/O (GIL released), scratch publication
    in matcache.materialize_once/staged_once is lock-guarded with a
    loser-cleanup path, and racing createOrReplaceTempView calls all
    install the same (name, definition) for one sf_dir. Set
    ``max_workers=1`` to debug a build failure sequentially.
    """
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if names:
        qs = {n: qs[n] for n in names}

    def one(item) -> tuple[str, list[str]]:
        name, fn = item
        try:
            return name, audit_df(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover - build failures
            if on_error == "raise":
                raise
            return name, [f"build-error: {type(e).__name__}: {e}"]

    if max_workers <= 1:
        results = map(one, qs.items())
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            results = list(pool.map(one, qs.items()))
    return {name: viol for name, viol in results if viol}
