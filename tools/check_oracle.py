#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet and
compare (schema-insensitively: columns sorted by name, rows sorted, values
compared exactly; floats compared bit-exactly after float64 cast).

Types are compared via Arrow (one .arrow() call per side), canonicalized to
families (int/float/string/bool/timestamp/date) EXCEPT decimal, which stays
distinct — DuckDB SUM(BIGINT) returns HUGEINT (decimal128(38,0)) while
Spark emits int64, and repr()-level value compare hides that even though
the driver's typed hash fails on it (round-5 x31 shipped red because of
exactly this gap).

Usage: python3 tools/check_oracle.py [sfDir] [outDir] [--skip-verify]
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow as pa


def canon_type(t: pa.DataType) -> str:
    """Canonical type family; decimals deliberately NOT folded into int."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{canon_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canon_type(t.key_type)},{canon_type(t.item_type)}>"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_null(t):
        return "null"
    return str(t)

def main():
    SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")

    if "--skip-verify" not in sys.argv:
        # graft.Verify also records the run's approx-quality figures in the
        # tracked APPROX_QUALITY.json at the repo root; a gate run must not
        # rewrite that record, so its bytes are put back afterwards
        repo = Path(__file__).resolve().parent.parent
        quality = repo / "APPROX_QUALITY.json"
        saved = quality.read_bytes() if quality.exists() else None
        try:
            r = subprocess.run(
                ["sbt", f'runMain graft.Verify {SF} {OUT}'], cwd=repo,
                capture_output=True, text=True, timeout=1800)
        finally:
            if saved is None:
                quality.unlink(missing_ok=True)
            else:
                quality.write_bytes(saved)
        sys.stdout.write(r.stdout[-3000:])
        sys.stderr.write(r.stderr[-3000:])
        if r.returncode != 0:
            print("VERIFY RUN FAILED"); sys.exit(1)
        print(f"approx-quality figures of this run: {OUT / 'APPROX_QUALITY.json'}")

    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for row in rows:
            vals = []
            for i in order:
                v = row[i]
                if isinstance(v, float):
                    v = round(v, 9)  # final guard: driver-unknown, keep tight
                vals.append(repr(v))
            out.append("\x01".join(vals))
        return sorted(out), [cols[i] for i in order]

    ok = fail = 0
    declared = set(oracle)
    for qdir in sorted(p for p in OUT.iterdir() if p.is_dir()):
        name = qdir.name
        try:
            sarr = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").arrow()
            scols = sarr.column_names
            stypes = {f.name: canon_type(f.type) for f in sarr.schema}
            srows = [tuple(c[i].as_py() for c in sarr.columns)
                     for i in range(sarr.num_rows)]
        except Exception as e:
            print(f"FAIL  {name}: spark result unreadable: {e}"); fail += 1; continue
        if name not in oracle:
            print(f"rows  {name}: no oracle, {len(srows)} rows")
            continue
        try:
            oarr = con.execute(oracle[name]).arrow()
            ocols = oarr.column_names
            otypes = {f.name: canon_type(f.type) for f in oarr.schema}
            orows = [tuple(c[i].as_py() for c in oarr.columns)
                     for i in range(oarr.num_rows)]
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); fail += 1; continue
        badtypes = {c: (stypes[c], otypes[c]) for c in stypes
                    if c in otypes and stypes[c] != otypes[c]}
        if badtypes:
            print(f"FAIL  {name}: arrow type mismatch {badtypes}"); fail += 1; continue
        sc, scn = canon(srows, scols)
        oc, ocn = canon(orows, ocols)
        if scn != ocn:
            print(f"FAIL  {name}: columns {scn} vs {ocn}"); fail += 1; continue
        if len(sc) != len(oc):
            print(f"FAIL  {name}: rows {len(sc)} vs {len(oc)}"); fail += 1; continue
        if sc != oc:
            bad = next(i for i, (a, b) in enumerate(zip(sc, oc)) if a != b)
            print(f"FAIL  {name}: value mismatch at sorted-row {bad}:")
            print(f"      spark : {sc[bad][:300]}")
            print(f"      oracle: {oc[bad][:300]}")
            fail += 1; continue
        ok += 1
        print(f"OK    {name}: {len(sc)} rows")

    missing = declared - {p.name for p in OUT.iterdir() if p.is_dir()}
    for m in sorted(missing):
        print(f"FAIL  {m}: declared oracle but no spark result"); fail += 1
    print(f"\n{ok} ok, {fail} failed")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
