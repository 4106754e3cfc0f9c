"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at sf0.01, compare row count, column
names, Arrow-level value types, and order-insensitive values.

    python tests/tools/check_oracles.py [query_name ...]

A name is a full query name or a unique ``qNN`` prefix of one (``q24``
selects ``q24_...``); an unknown or ambiguous name exits non-zero before
any query runs.

The round-1 lesson: DuckDB ``SUM(INTEGER)`` returns HUGEINT
(arrow decimal128(38,0)) while Spark returns BIGINT (int64).  Comparing
``str(value)`` erases that difference but the driver's value-hash does not —
so this mimic now compares through Arrow tables and normalizes values WITH a
type-family tag (decimal vs int vs float) so the mismatch is visible locally.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import pyarrow.types as pat

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def type_family(t) -> str:
    """Collapse an Arrow type to the family the driver's hash is sensitive
    to.  decimal vs int vs float differ; width (int32/int64) and timestamp
    tz-annotation do not (Spark's toArrow stamps the session tz, DuckDB
    doesn't — values still compare equal)."""
    if pat.is_decimal(t):
        return "decimal"
    if pat.is_integer(t):
        return "int"
    if pat.is_floating(t):
        return "float"
    if pat.is_timestamp(t):
        return "timestamp"
    if pat.is_boolean(t):
        return "bool"
    if pat.is_string(t) or pat.is_large_string(t):
        return "string"
    if pat.is_binary(t) or pat.is_large_binary(t):
        return "binary"
    if pat.is_list(t) or pat.is_large_list(t):
        return f"list<{type_family(t.value_type)}>"
    return str(t)


def norm_value(v):
    if v is None:
        return "\x00NULL"  # sortable sentinel
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision: catches ulp-level engine drift
    if isinstance(v, list):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    if hasattr(v, "tzinfo") and v.tzinfo is not None:  # tz-aware datetime
        v = v.replace(tzinfo=None)
    return str(v)


def table_to_multiset(tbl):
    """(sorted column names, per-column type families, sorted row tuples)."""
    names = sorted(tbl.column_names)
    fams = [type_family(tbl.schema.field(n).type) for n in names]
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted(
        tuple(norm_value(c[i]) for c in cols) for i in range(tbl.num_rows))
    return names, fams, rows


def resolve_names(args, names) -> list:
    """Full query names for the command-line ``args``: an exact name, or
    a prefix that selects exactly one name up to its ``_`` boundary
    (``q24`` → ``q24_...``, never ``q240_...``).  Raises ValueError naming
    every argument that matches no query or more than one."""
    resolved, errors = [], []
    for arg in args:
        if arg in names:
            resolved.append(arg)
            continue
        hits = sorted(n for n in names if n.startswith(arg + "_"))
        if len(hits) == 1:
            resolved.append(hits[0])
        elif hits:
            errors.append(f"{arg!r} is ambiguous: {hits}")
        else:
            errors.append(f"{arg!r} matches no query")
    if errors:
        raise ValueError("; ".join(errors))
    return resolved


def main(only=None, json_out=None):
    import __spark_entry__ as entrymod
    from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import build_session

    spark = build_session(app_name="oracle-check", master="local[8]",
                          shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report = {}

    def record(name, rows_match, schema_match, hash_match,
               spark_rows, oracle_rows, err):
        # the driver's CORRECTNESS_r{N}.json schema, so rounds can be
        # diffed without re-running the gate
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            stbl = fn(spark, SF_DIR).toArrow()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL] {name}: spark error {e}")
            record(name, False, False, False, 0, 0, f"spark: {e}")
            continue
        if name not in oracles:
            print(f"[rows] {name}: {stbl.num_rows} rows (no oracle)")
            record(name, stbl.num_rows >= 0, True, None,
                   stbl.num_rows, None, None)
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL] {name}: duckdb error {e}")
            record(name, False, False, False, stbl.num_rows, 0,
                   f"duckdb: {e}")
            continue
        sc, sf_, sm = table_to_multiset(stbl)
        oc, of_, om = table_to_multiset(otbl)
        if sc != oc:
            failures.append((name, f"columns {sc} != {oc}"))
            print(f"[FAIL] {name}: columns {sc} vs {oc}")
            record(name, len(sm) == len(om), False, False,
                   len(sm), len(om), None)
            continue
        if sf_ != of_:
            bad = [(c, a, b) for c, a, b in zip(sc, sf_, of_) if a != b]
            failures.append((name, f"arrow types differ: {bad}"))
            print(f"[FAIL] {name}: arrow types differ {bad}")
            record(name, len(sm) == len(om), False, False,
                   len(sm), len(om), None)
            continue
        if len(sm) != len(om):
            failures.append((name, f"rowcount {len(sm)} != {len(om)}"))
            print(f"[FAIL] {name}: rowcount {len(sm)} vs {len(om)}")
            record(name, False, True, False, len(sm), len(om), None)
            continue
        if sm != om:
            diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"[FAIL] {name}: values differ e.g. {diff}")
            record(name, True, True, False, len(sm), len(om), None)
            continue
        print(f"[ OK ] {name}: {len(sm)} rows")
        record(name, True, True, True, len(sm), len(om), None)
    spark.stop()
    if json_out:
        import json as _json
        Path(json_out).write_text(_json.dumps(report, indent=2) + "\n")
        print(f"wrote {len(report)} entries -> {json_out}")
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: check_oracles.py [names...] [--json PATH]")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    import __spark_entry__ as entrymod
    try:
        only = resolve_names(args, set(entrymod.queries()))
    except ValueError as e:
        sys.exit(f"check_oracles.py: {e}")
    main(set(only) or None, json_out=json_out)
