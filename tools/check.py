#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tooling only; the
engine itself is pure Scala/Spark). Usage:
  python3 tools/check.py <sfDir> <outDir>
Reads each <outDir>/<name> parquet written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares (rows, schema-by-name, sorted values). The names come from
<outDir>/declared.json, which Verify writes before running anything, so a
query that wrote no output counts as a failure; when Verify's
<outDir>/status.jsonl has a line for it, the failure names its error class."""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
declared = f"{outdir}/declared.json"
if os.path.exists(declared):
    names = sorted(json.load(open(declared)))
else:
    print(f"WARN {declared} missing: checking only the written outputs",
          file=sys.stderr)
    names = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
status = {}
if os.path.exists(f"{outdir}/status.jsonl"):
    for line in open(f"{outdir}/status.jsonl"):
        try:
            rec = json.loads(line)
        except ValueError:  # a line cut short by a killed run
            continue
        status[rec["name"]] = rec["status"]
for name in names:
    if not os.path.isdir(os.path.join(outdir, name)):
        why = f" ({status[name]})" if name in status else ""
        print(f"FAIL {name}: not written{why}"); fail += 1; continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no parquet written"); fail += 1; continue
    got = con.execute(
        f"SELECT * FROM read_parquet({files!r})").df()
    if name not in oracle:
        print(f"ok   {name}: rows-only ({len(got)} rows, no oracle)")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as ex:
        print(f"FAIL {name}: oracle error {str(ex)[:300]}"); fail += 1; continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"FAIL {name}: schema {gcols} != {ecols}"); fail += 1; continue
    g, e = got[gcols], exp[ecols]
    if len(g) != len(e):
        print(f"FAIL {name}: rows {len(g)} != {len(e)}"); fail += 1; continue
    gs = g.sort_values(gcols, na_position="first").reset_index(drop=True)
    es = e.sort_values(ecols, na_position="first").reset_index(drop=True)
    try:
        import pandas as pd
        import numpy as np
        # dtype-strict: the driver's hash is dtype-sensitive (e.g. DuckDB
        # HUGEINT from un-cast SUM must be CAST to BIGINT in the oracle SQL).
        pd.testing.assert_frame_equal(gs, es, check_dtype=True,
                                      check_exact=True)
        # signbit-strict: the driver's hash is BYTE-sensitive, so -0.0 vs
        # 0.0 fails there while numpy == cannot see it (round-8 q322
        # postmortem: DuckDB round() keeps the sign of a tiny negative,
        # Spark's BigDecimal round can't). Compare sign bits of every
        # non-NaN float cell.
        for c in gcols:
            if gs[c].dtype.kind == "f":
                ga, ea = gs[c].to_numpy(), es[c].to_numpy()
                ok = np.isnan(ga) | (np.signbit(ga) == np.signbit(ea))
                if not ok.all():
                    i = int(np.argmin(ok))
                    raise AssertionError(
                        f"signbit mismatch col={c} row={i}: "
                        f"spark={ga[i]!r} oracle={ea[i]!r}")
        print(f"PASS {name} ({len(g)} rows)")
    except AssertionError as ex:
        print(f"FAIL {name}: value mismatch\n  {str(ex)[:500]}")
        fail += 1
print(f"\n{len(names)-fail}/{len(names)} passed")
sys.exit(1 if fail else 0)
