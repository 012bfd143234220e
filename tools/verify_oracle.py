"""The DuckDB oracle gate.

Runs every ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then
compares row count, column names and types, and an order-insensitive
value multiset. A query's plan must also pass ``plans.audit``. Usage:

    python tools/verify_oracle.py [sf_dir] [query ...]

Every run folds its results into ``VERIFY_LEDGER.json`` at the repo
root: a deterministic name -> last-green-scale map. A PASS records the
query; a FAIL erases its row. tests/test_tripwire.py checks the ledger
against the registry, so a query cannot be registered, or stay
registered after a failure, without a green run. Commit the ledger
together with each new query.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from dataset_batch_processor_spark.plans import audit

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style canonicalization: repr of the double
        return repr(v)
    if isinstance(v, bool):
        return f"bool:{v}"
    return str(v)


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


LEDGER_PATH = os.path.join(REPO, "VERIFY_LEDGER.json")


def _sf_num(sf: str) -> float:
    """Numeric scale factor from a dir basename ('sf0.1' -> 0.1).
    Lexicographic comparison is WRONG here ('sf0.2' > 'sf0.15')."""
    try:
        return float(sf.replace("sf", "", 1))
    except ValueError:
        return -1.0


def _update_ledger(records: dict[str, dict], sf_dir: str) -> None:
    """Fold this run into the committed ledger. Content is
    deterministic (sorted names, no timestamps) so diffs stay
    one-line-per-new-query. Semantics (round 9, review fix): a green
    row means 'verified green, with no failure observed SINCE' — a
    FAIL ERASES the query's row, so tests/test_tripwire.py's
    registered-query check fires until a later run re-proves the
    fix; status and sf always come from the SAME run
    (the one at the largest numeric scale seen green)."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    try:
        with open(LEDGER_PATH) as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        ledger = {}
    for name, rec in records.items():
        if rec["status"] in ("PASS", "rows-only"):
            prev = ledger.get(name)
            if prev is None or _sf_num(sf) >= _sf_num(prev.get("sf", "")):
                ledger[name] = {"status": rec["status"], "sf": sf}
        else:  # FAIL (spark error, oracle error, or mismatch)
            ledger.pop(name, None)
    with open(LEDGER_PATH, "w") as fh:
        json.dump(dict(sorted(ledger.items())), fh, indent=0,
                  sort_keys=True)
        fh.write("\n")


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    records: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from dataset_batch_processor_spark.session import get_spark

    spark = get_spark("verify_oracle")

    con = duckdb.connect()
    # tz-adjusted parquet timestamps render in DuckDB's local zone by
    # default; pin UTC so both engines agree (catalog.normalize_event_ts)
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            plan_violations = audit.audit_df(sdf)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception:
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            records[name] = {"status": "FAIL"}
            continue
        if name not in oracles:
            if plan_violations:
                print(f"FAIL  {name}: plan violations {plan_violations}")
                failures.append(name)
                records[name] = {"status": "FAIL"}
                continue
            print(f"rows-only  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            records[name] = {"status": "rows-only"}
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            records[name] = {"status": "FAIL"}
            continue
        ok = True
        msgs = []
        if plan_violations:
            # scale-shape tripwire (plans/audit.py): an unpartitioned
            # data window / cartesian / row-wise Python UDF is a FAIL
            # even when the values match — correct-at-sf0.01 but
            # fatal-at-100TB is not done.
            ok = False
            msgs.append(f"plan violations: {plan_violations}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            # type parity: normalize both engines' type names; flags
            # e.g. DuckDB HUGEINT (sum of ints) vs Spark BIGINT
            duck_norm = {
                "BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double",
                "VARCHAR": "string", "BOOLEAN": "boolean",
                "TIMESTAMP": "timestamp", "DATE": "date", "BLOB": "binary",
                "HUGEINT": "hugeint", "FLOAT": "float", "SMALLINT": "smallint",
            }
            stypes = dict(sdf.dtypes)
            dtypes = {
                r[0]: duck_norm.get(str(r[1]), str(r[1]))
                for r in con.execute(
                    f"DESCRIBE {oracles[name]}"
                ).fetchall()
            }
            for c in scols:
                st, dt = stypes[c], dtypes.get(c)
                if st != dt and not (st.startswith("decimal") or
                                     dt is None or "[" in str(dt).lower()):
                    ok = False
                    msgs.append(f"type {c}: spark={st} duck={dt}")
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if ok:
            cs, cd = canon(srows, scols), canon(drows, dcols)
            if cs != cd:
                ok = False
                diff = [
                    (a, b) for a, b in zip(cs, cd) if a != b
                ][:3]
                msgs.append(f"values differ, first diffs: {diff}")
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(
            f"{status}  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)"
            + ("  " + "; ".join(msgs) if msgs else "")
        )
        records[name] = {"status": status}
    unknown = only - set(qs)
    if unknown:
        print(f"\nERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    _update_ledger(records, sf_dir)
    print(
        f"\n{len(failures)} failures" + (f": {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
