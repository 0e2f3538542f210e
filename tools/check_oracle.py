"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin (DuckDB) at
a given sf dir, compares row count, column names, and order-insensitive
values (floats compared exactly after the queries' own rounding — if
this mirror passes, the driver's value-hash comparison should too).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --verify-report CORRECTNESS_rNN.json

--verify-report asserts every registered query has a row in the driver's
correctness file (round-2 lesson: the driver reported exactly 50 of 51
registered queries, silently dropping the last registry entry).
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # collapse last-ulp noise: 12 significant digits. The "f:" prefix
        # keeps floats distinct from ints (dtype-strict, like the driver's
        # value hash): DuckDB HUGEINT sums materialize as float64 via
        # fetchdf(), and stringifying 0.0 -> "0" used to hide that.
        return f"f:{v:.12g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def run_checks(spark, sf_dir: str, only: set[str] | None = None) -> list[str]:
    """Run query-vs-oracle comparisons; returns the list of failing names."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
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
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"  WARN: empty result")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        dcols = list(ddf.columns)
        drows = list(ddf.itertuples(index=False, name=None))
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            sk = rows_key(scols, [tuple(r) for r in srows])
            dk = rows_key(dcols, drows)
            if sk != dk:
                ok = False
                miss = list((dk - sk).items())[:3]
                extra = list((sk - dk).items())[:3]
                print(f"FAIL {name}: value mismatch")
                for m in miss:
                    print(f"  oracle-only: {m}")
                for e in extra:
                    print(f"  spark-only:  {e}")
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    return failures


def verify_report(path: str) -> int:
    """Completeness gate: every queries() entry must appear in the
    driver's CORRECTNESS report; a dropped query is loud, not silent."""
    import json

    import __spark_entry__ as entrymod

    with open(path) as fh:
        reported = set(json.load(fh).keys())
    registered = set(entrymod.queries().keys())
    missing = sorted(registered - reported)
    extra = sorted(reported - registered)
    print(f"registered={len(registered)} reported={len(reported)}")
    if missing:
        print(f"MISSING from report: {missing}")
    if extra:
        print(f"reported but not registered (renamed/stale?): {extra}")
    return 1 if missing else 0


def coverage_md(report_path: str, out_path: str = "ORACLE_COVERAGE.md") -> int:
    """Write the registered-vs-reported delta as a tracked artifact:
    per-registry-slot status against the given driver CORRECTNESS file,
    so the 50-row report cap's effect is explicit every round (round-3
    verdict Next #4). Re-run after each CORRECTNESS_rNN.json lands."""
    import json

    import __spark_entry__ as entrymod

    with open(report_path) as fh:
        report = json.load(fh)
    names = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    lines = [
        "# ORACLE COVERAGE — registered vs driver-reported",
        "",
        f"Source report: `{os.path.basename(report_path)}`. "
        f"Registered queries: **{len(names)}**; driver rows: "
        f"**{len(report)}** (the driver reports the first 50 registry "
        "slots). Every entry is also checked locally by "
        "`tools/check_oracle.py <sf_dir>` (DuckDB mirror) and "
        "`tests/test_queries_oracle.py`.",
        "",
        "| slot | query | oracle | driver row | status |",
        "|---|---|---|---|---|",
    ]
    n_missing = 0
    for i, name in enumerate(names, 1):
        row = report.get(name)
        if row is None:
            status = "NO ROW (beyond report cap)" if i > 50 else "NO ROW (!)"
            n_missing += i <= 50
        elif row.get("err"):
            status = "FAIL: " + row["err"].strip().splitlines()[-1][:60]
        elif all(row.get(k) for k in ("rows_match", "schema_match", "hash_match")):
            status = "green"
        elif name not in oracles and row.get("rows_match") is None:
            status = "rows-only"
        else:
            status = "MISMATCH " + str(
                {k: row.get(k) for k in ("rows_match", "schema_match", "hash_match")}
            )
        has_oracle = "sql" if name in oracles else "rows-only"
        lines.append(f"| {i} | {name} | {has_oracle} | {'yes' if row else 'no'} | {status} |")
    missing = [n for n in names if n not in report]
    lines += [
        "",
        f"Unreported this round: {len(missing)} "
        "(rotation is self-maintaining: once a newer CORRECTNESS report "
        "lands, `queries()` re-sorts the registry — never-reported/"
        "failed first, then stalest-green — so these rotate into the "
        "50-slot window automatically; see queries._rotation_order).",
        "",
    ]
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}: {len(names)} registered, {len(report)} reported")
    return 1 if n_missing else 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--verify-report":
        if len(sys.argv) < 3:
            print("usage: check_oracle.py --verify-report CORRECTNESS_rNN.json")
            return 2
        return verify_report(sys.argv[2])
    if len(sys.argv) > 1 and sys.argv[1] == "--coverage-md":
        if len(sys.argv) < 3:
            print("usage: check_oracle.py --coverage-md CORRECTNESS_rNN.json [out.md]")
            return 2
        return coverage_md(
            sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "ORACLE_COVERAGE.md"
        )
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    from ocr_service_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    failures = run_checks(spark, sf_dir, only)
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
