"""Local replica of the driver's correctness gate: run every
registered query at sf0.01 via Spark AND its DuckDB oracle, compare
row count, column names, and the DRIVER'S value canon.

The canon matters more than the engines.  Rounds 6-7 proved that a
tuple-level comparison (``.collect()`` vs ``fetchall()`` + a custom
normalizer) passes queries the grading driver fails: the driver
compares ``sdf.toPandas()`` against ``con.execute(oracle).df()`` as
*pandas string frames*, so dtype representation differences that a
tuple compare forgives (DuckDB SUM(int)->HUGEINT->float64 '2085.0' vs
Spark int64 '2085'; Spark DECIMAL '89158.00' vs DOUBLE '89158.0')
are hash mismatches there.  This replica therefore canonicalizes the
SAME way the driver does:

  1. ``toPandas()`` / ``.df()``            (NOT collect/fetchall)
  2. reorder columns by sorted name
  3. ``sort_values`` on the raw frame      (raises on array cells --
     faithfully: the driver errors on list-valued columns too)
  4. ``astype(str)`` and hash the rows order-insensitively

A query is green here iff it is green under the driver's harness
(validated against CORRECTNESS_r07.json: this canon reproduces all
11 r7 hash-fails, both array-cell errors, and the greens).

Additionally enforces the registry output-type contract (see
``guidewire_spark.registry``): result schemas may contain only
integral/floating/string/boolean/date/timestamp columns -- DECIMAL
and ARRAY/MAP/STRUCT outputs are representation hazards and fail the
sweep even when values match.

Usage: python tools/check_oracles.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from guidewire_spark.plans.session import get_spark
from guidewire_spark.registry import all_queries, lint_output_schema

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonical form of a result frame: columns in
    sorted name order, rows sorted on the raw values, every cell
    stringified via pandas ``astype(str)``.  Raw-value ``sort_values``
    is deliberate — list-valued cells make it raise, exactly like the
    driver's harness (CORRECTNESS_r07: multimodal_decode_hist)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True).astype(str)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a canonicalized frame."""
    lines = sorted("|".join(row) for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    only = set(sys.argv[1:])
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    # Engine versions in the sweep output (round-6 verdict item 3):
    # a hash divergence between replica and driver is only diagnosable
    # if every sweep records what it ran on.
    print(
        f"engines: pyspark={spark.version} duckdb={duckdb.__version__} "
        f"python={sys.version.split()[0]} pandas={pd.__version__} "
        f"sf_dir={SF_DIR} canon=pandas-string (driver-faithful)"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    from guidewire_spark.operators.twophase import clear_two_phase_pins

    specs = all_queries()
    passed = failed = rows_only = 0
    # Supplementary gate artifact (round-9 advice item a): the driver's
    # CORRECTNESS_r*.json only records its 50-query window, so queries
    # outside it have no persisted per-round evidence.  With
    # CHECK_JSON_OUT=<path> the sweep writes a per-query record in the
    # driver's own artifact shape, committed at round close as
    # ORACLE_SWEEP_r{N}.json.
    json_out = os.environ.get("CHECK_JSON_OUT")
    records: dict[str, dict] = {}

    def record(
        name: str,
        status: str,
        rows: int | None,
        detail: str = "",
        spark_hash: str | None = None,
    ):
        if json_out is None:
            return
        rec: dict = {"status": status}
        if rows is not None:
            rec["rows"] = rows
        # The Spark-side value hash lets two sweeps (say, before and
        # after a refactor) be diffed query by query, rows-only queries
        # included, which the oracle compare cannot vouch for.
        if spark_hash is not None:
            rec["spark_hash"] = spark_hash
        if status == "rows_only":
            rec["err"] = "no_oracle"
        if detail:
            rec["detail"] = detail[:500]
        records[name] = rec

    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        clear_two_phase_pins()  # release the previous query's pins
        try:
            sdf = spec.fn(spark, SF_DIR)
            lint_errors = lint_output_schema(sdf.schema)
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: SPARK ERROR")
            traceback.print_exc()
            record(name, "fail", None, "SPARK ERROR")
            failed += 1
            continue
        if lint_errors:
            print(f"FAIL  {name}: OUTPUT-TYPE LINT {lint_errors}")
            record(name, "fail", len(spdf), f"LINT {lint_errors}")
            failed += 1
            continue
        if spec.oracle is None:
            # Rows-only queries still go through the canon: the driver
            # toPandas()+sorts them too, so an array-valued column or
            # unsortable cell must fail HERE, not in the driver run.
            try:
                rows_hash = frame_hash(canon_frame(spdf))
            except Exception as exc:
                print(f"FAIL  {name}: rows-only CANON ERROR {exc}")
                record(name, "fail", len(spdf), f"CANON ERROR {exc}")
                failed += 1
                continue
            print(f"rows  {name}: {len(spdf)} rows (rows-only)")
            record(name, "rows_only", len(spdf), spark_hash=rows_hash)
            rows_only += 1
            continue
        try:
            opdf = con.execute(spec.oracle).df()
        except Exception as exc:
            print(f"FAIL  {name}: ORACLE ERROR {exc}")
            record(name, "fail", len(spdf), f"ORACLE ERROR {exc}")
            failed += 1
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
            )
        else:
            try:
                sc = canon_frame(spdf)
                oc = canon_frame(opdf)
            except Exception as exc:
                problems.append(f"CANON ERROR {exc}")
            else:
                sh, oh = frame_hash(sc), frame_hash(oc)
                if sh != oh:
                    problems.append(f"valuehash spark={sh} oracle={oh}")
                    # Sample diff of canonical row-strings to debug.
                    sset = {
                        "|".join(r) for r in sc.itertuples(index=False, name=None)
                    }
                    oset = {
                        "|".join(r) for r in oc.itertuples(index=False, name=None)
                    }
                    for label, diff in (
                        ("spark-only", sorted(sset - oset)[:3]),
                        ("oracle-only", sorted(oset - sset)[:3]),
                    ):
                        for row in diff:
                            problems.append(f"{label}: {row[:300]}")
        if problems:
            print(f"FAIL  {name}: " + "\n      ".join(problems))
            record(name, "fail", len(spdf), "; ".join(problems))
            failed += 1
        else:
            print(f"PASS  {name}: {len(spdf)} rows")
            record(name, "pass", len(spdf), spark_hash=sh)
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {rows_only} rows-only")
    if json_out is not None:
        import json

        payload = {
            "engines": {
                "pyspark": spark.version,
                "duckdb": duckdb.__version__,
                "python": sys.version.split()[0],
                "pandas": pd.__version__,
            },
            "sf_dir": SF_DIR,
            "summary": {
                "passed": passed,
                "failed": failed,
                "rows_only": rows_only,
            },
            "queries": records,
        }
        with open(json_out, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
