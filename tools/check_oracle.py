"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [name ...]

With SPARK_GRAFT_GATE_OUT=<path> (e.g. GATE_r07.json) the per-query
verdicts are also written as a committed JSON artifact — the full-coverage
complement to the driver's 50-slot random window (VERDICT r05/r06 ask):
every oracled query verified every round, not a sample.

Every entry whose Spark side ran, rows-only entries included, also prints
and records ``sha256``: a digest of its order-insensitive rows
(``row_digest``). Two gate files of the same SF then diff entry by entry,
which is how a refactor shows that the registry's rows did not move.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
GATE_OUT = os.environ.get("SPARK_GRAFT_GATE_OUT")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return repr(round(v, 10))
        return repr(round(v, 10))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def row_digest(rows, cols) -> str:
    """sha256 over the column names and ``canon(rows, cols)``: equal for
    any row order and any column order."""
    body = repr((sorted(cols), canon(rows, cols)))
    return hashlib.sha256(body.encode()).hexdigest()


def main(names: list[str]) -> int:
    import __spark_entry__ as entrymod
    from vectordb_acc_and_speed_exp_spark.session import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    targets = names or sorted(qs)
    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=16)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failed = []
    verdicts: dict[str, dict] = {}

    def record(
        name: str, status: str, rows: int | None = None, note: str = "",
        sha256: str | None = None,
    ):
        verdicts[name] = {"status": status, "rows": rows, "note": note}
        if sha256 is not None:
            verdicts[name]["sha256"] = sha256

    for name in targets:
        if name not in qs:
            print(f"?? {name}: no such query")
            failed.append(name)
            record(name, "missing")
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            # operators persist multi-consumer frames; drop them between
            # queries so a 140-entry run does not pile caches into the heap
            spark.catalog.clearCache()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failed.append(name)
            record(name, "spark_error")
            continue
        digest = row_digest(srows, scols)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows) sha256={digest}")
            record(name, "rows_only", len(srows), sha256=digest)
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = rel.columns
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failed.append(name)
            record(name, "duckdb_error", sha256=digest)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            failed.append(name)
            record(name, "schema_mismatch", sha256=digest)
            continue
        cs, cd = canon(srows, scols), canon(drows, dcols)
        if len(cs) != len(cd):
            print(f"FAIL {name}: rowcount spark={len(cs)} duck={len(cd)}")
            failed.append(name)
            record(name, "rowcount_mismatch", len(cs), sha256=digest)
            continue
        if cs != cd:
            diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
            failed.append(name)
            record(name, "value_mismatch", len(cs), sha256=digest)
            continue
        print(f"PASS {name} ({len(cs)} rows) sha256={digest}")
        record(name, "pass", len(cs), sha256=digest)
    print(f"\n{len(targets) - len(failed)}/{len(targets)} passed")
    if GATE_OUT:
        oracled = [n for n in targets if n in oracles]
        payload = {
            "sf_dir": SF_DIR,
            "generated_unix": int(time.time()),
            "n_queries": len(targets),
            "n_oracled": len(oracled),
            "n_passed": len(targets) - len(failed),
            "failed": sorted(failed),
            "queries": verdicts,
        }
        with open(GATE_OUT, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {GATE_OUT}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
