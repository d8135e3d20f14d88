#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, not shipped):
runs each oracle_sql.json query in DuckDB against the sf parquet tables and
compares with the Verify-dumped parquet, column-name-sorted and row-sorted.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--triscale PATH]

--triscale PATH merges this run's per-query verdicts into a
machine-readable matrix artifact (PATH keyed by the sfDir basename ->
{query: ok|bad|rows_only}), so the tri-scale coverage claim can be
checked from an artifact: a reader replays one sf and diffs its slice.
"""
import sys, os, json, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    return v

def main(sf_dir, out_dir, triscale=None):
    verdicts = {}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_ok = n_bad = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'").df()
        if name not in oracle:
            print(f"SKIP {name}: no oracle ({len(got)} rows)")
            verdicts[name] = "rows_only"
            n_skip += 1
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"BAD  {name}: oracle error: {str(e)[:200]}")
            verdicts[name] = "bad"
            n_bad += 1
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            print(f"BAD  {name}: columns {list(got.columns)} vs {list(exp.columns)}")
            verdicts[name] = "bad"
            n_bad += 1
            continue
        if len(got) != len(exp):
            print(f"BAD  {name}: rows {len(got)} vs {len(exp)}")
            verdicts[name] = "bad"
            n_bad += 1
            continue
        sg = got.dtypes.astype(str).to_dict(); se = exp.dtypes.astype(str).to_dict()
        if sg != se:
            print(f"WARN {name}: dtypes differ {sg} vs {se}")
        gr = sorted([tuple(norm(v) for v in r) for r in got.itertuples(index=False)], key=str)
        er = sorted([tuple(norm(v) for v in r) for r in exp.itertuples(index=False)], key=str)
        if gr == er:
            print(f"OK   {name}: {len(got)} rows")
            verdicts[name] = "ok"
            n_ok += 1
        else:
            diffs = [(a, b) for a, b in zip(gr, er) if a != b]
            print(f"BAD  {name}: {len(diffs)}/{len(gr)} differing rows; first: ")
            for a, b in diffs[:3]:
                print(f"      got {a}")
                print(f"      exp {b}")
            verdicts[name] = "bad"
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad, {n_skip} rows-only")
    if triscale:
        matrix = {}
        if os.path.exists(triscale):
            matrix = json.load(open(triscale))
        sf_key = os.path.basename(os.path.normpath(sf_dir))
        # merge per QUERY, not per slice: a dev-loop subset run must
        # update only the queries it checked, never wipe the rest of a
        # previously-recorded full slice
        merged = dict(matrix.get(sf_key, {}))
        merged.update(verdicts)
        matrix[sf_key] = dict(sorted(merged.items()))
        matrix["_counts"] = {
            sf: {"ok": sum(1 for v in qs.values() if v == "ok"),
                 "bad": sum(1 for v in qs.values() if v == "bad"),
                 "rows_only": sum(1 for v in qs.values() if v == "rows_only")}
            for sf, qs in matrix.items() if not sf.startswith("_")}
        with open(triscale, "w") as f:
            json.dump(matrix, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"triscale: wrote {sf_key} slice to {triscale}")
    return 1 if n_bad else 0

if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--triscale", default=None, metavar="PATH")
    ns = ap.parse_args()
    sys.exit(main(ns.sf_dir, ns.out_dir, ns.triscale))
