"""The oracle contract: every registered query against its DuckDB oracle.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares:
  - row count
  - sorted column names
  - order-insensitive value hash (columns sorted by name, rows sorted,
    every value rendered by :func:`norm_value`, floats at full
    ``repr`` precision)

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name1,name2]

The per-entry comparison is :func:`_check_entry`; Tier-1 runs it for
every entry at sf0.001 (``tests/test_oracle_contract.py``). The sweep
body is importable as :func:`run_checks` so callers that sweep MANY
corpora (``tools/degenerate_gate.py``) can share one SparkSession
across sweeps — the JVM/codegen warm-up dominates the per-corpus
floor.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_value(v):
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full-precision repr, NOT a lenient %.9g: the driver's hash
        # distinguishes int 23 from float 23.0 and sees last-ulp drift,
        # and a lenient local render let q16/x05 look green here while
        # hash-failing at the driver for three rounds. Strict-local ⊇
        # strict-driver: if this passes, any plausible driver render
        # passes too.
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _norm_lines(rows: list[tuple], colnames: list[str]) -> list[str]:
    """Rows rendered with columns sorted by name, then sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        "\x1f".join(norm_value(row[i]) for i in order) for row in rows
    )


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    h = hashlib.sha256()
    for line in _norm_lines(rows, colnames):
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()


TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_tables(sql: str) -> set[str]:
    """Tables an oracle references, by word-boundary name match. Over-
    inclusive by construction (an output alias `AS part` counts as a
    `part` dependency) — callers that SKIP on disjointness therefore
    only ever skip too little, never too much."""
    import re

    return {t for t in TABLE_NAMES if re.search(rf"\b{t}\b", sql)}


def _oracle_db(sf: str):
    """A fresh DuckDB connection with one view per corpus table at ``sf``
    (a ``'`` in the path is escaped as ``''`` inside the SQL literal)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _check_entry(spark, con, name: str, sf: str, verbose: bool = False):
    """Run entry ``name`` on Spark and its oracle on ``con``; returns
    ``(n_spark_rows, problems)``, where an empty ``problems`` list means
    the row count, the sorted column names and the value hash all match.
    Errors on either engine propagate to the caller."""
    from reddit_data_engineering_project_spark import registry

    sdf = registry.QUERIES[name](spark, sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(registry.ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
    if not problems:
        sh = table_hash(srows, list(scols))
        oh = table_hash(orows, list(ocols))
        if sh != oh:
            problems.append("value-hash mismatch")
            if verbose:
                pairs = zip(_norm_lines(srows, scols), _norm_lines(orows, ocols))
                for a, b in [p for p in pairs if p[0] != p[1]][:5]:
                    print(f"  spark: {a}\n  duck : {b}")
    return len(srows), problems


def run_checks(
    spark,
    sf: str,
    only: set[str] | None = None,
    verbose: bool = False,
    mutated_tables: set[str] | None = None,
) -> tuple[int, int, list[str]]:
    """One sweep of every registered query vs its oracle over the
    parquet corpus at ``sf``; returns ``(ok, fail, failing_names)``.
    The caller owns the SparkSession lifecycle; a fresh DuckDB
    connection is opened (and closed) per sweep so oracle state never
    leaks between corpora.

    ``mutated_tables`` (degenerate-gate mode): the corpus at ``sf``
    differs from the standing baseline corpus ONLY in these tables.
    Entries whose oracle references none of them read byte-identical
    inputs to a corpus they are already green on (the standing full
    sf0.001 sweep in ``tests/test_oracle_contract.py``), so their
    result is deterministically unchanged and they are SKIPPED — the
    sweep then costs ∝ the entries the hostile axis can actually
    affect. Soundness rests on oracle-declared tables ⊇ Spark-read
    tables, which ``tools/audit_plans.py`` enforces per entry
    (UNDECLARED_TABLE_DEP)."""
    from reddit_data_engineering_project_spark import registry

    registry.load_all_operators()

    # Vet the corpus being swept BEFORE grading against it: the declared
    # ingest contracts (null/dup primary keys, value/time domains) are
    # what the engine's exactness guarantees assume — an out-of-domain
    # corpus (committed OR hostile) makes every quantized compare
    # meaningless, so fail loudly here instead of chasing hash drift.
    from reddit_data_engineering_project_spark.tables import (
        check_ingest_contracts,
    )

    check_ingest_contracts(spark, sf)

    con = _oracle_db(sf)
    n_pass = n_fail = n_skip = 0
    failures: list[str] = []
    try:
        for name in sorted(registry.QUERIES):
            if only and name not in only:
                continue
            if mutated_tables is not None and not (
                oracle_tables(registry.ORACLES[name]) & mutated_tables
            ):
                n_skip += 1
                continue
            t0 = time.time()
            try:
                n_rows, problems = _check_entry(spark, con, name, sf, verbose)
            except Exception:
                print(f"FAIL  {name}: error")
                traceback.print_exc()
                n_fail += 1
                failures.append(name)
                continue
            if problems:
                print(
                    f"FAIL  {name}: {'; '.join(problems)} "
                    f"[{time.time()-t0:.1f}s]"
                )
                n_fail += 1
                failures.append(name)
            else:
                print(f"OK    {name}: {n_rows} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
    finally:
        con.close()

    if n_skip:
        print(
            f"\n{n_skip} skipped (inputs identical to the baseline "
            f"corpus: oracle touches none of {sorted(mutated_tables)})"
        )
    print(
        f"\n{n_pass} ok, {n_fail} fail"
        + (f"; failing: {','.join(failures)}" if failures else "")
    )
    return n_pass, n_fail, failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--verbose", action="store_true")
    args = ap.parse_args()

    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    only = set(args.only.split(",")) if args.only else None
    _, n_fail, _ = run_checks(spark, args.sf, only=only, verbose=args.verbose)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
