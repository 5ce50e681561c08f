#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the sf tables and compare with the Verify.scala parquet dumps.
Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
# optional tables: registered when the driver ships them (the registry's
# partsupp hook activates the tpch_q2/q9/q11/q16/q20 oracles the same day)
for t in ["partsupp"]:
    if glob.glob(f"{sf}/{t}.parquet"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
results = {"match": [], "mismatch": [], "error": [], "no_oracle": [], "missing": []}

names = sorted(os.path.basename(d) for d in glob.glob(f"{out}/*") if os.path.isdir(d))
for name in names:
    if only and name not in only:
        continue
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        results["missing"].append(name); print(f"MISSING-OUT {name}"); continue
    got = pd.read_parquet(f"{out}/{name}")
    if name not in oracle:
        results["no_oracle"].append(name)
        print(f"NO-ORACLE  {name:28s} rows={len(got)}")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        results["error"].append(name)
        print(f"SQL-ERROR  {name:28s} {str(e)[:160]}")
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    ok = True
    msgs = []
    if list(got.columns) != list(exp.columns):
        ok = False; msgs.append(f"cols {list(got.columns)} vs {list(exp.columns)}")
    elif len(got) != len(exp):
        ok = False; msgs.append(f"rows {len(got)} vs {len(exp)}")
    else:
        for c in got.columns:
            g, e = got[c].values, exp[c].values
            # DTYPE-STRICT (r13 lesson): the driver's hash is dtype-sensitive,
            # so an int64-vs-float64 pairing is a MISMATCH here even when the
            # values compare equal — otherwise this gate is weaker than the
            # driver's and can green-light a query the driver will fail
            # (exactly how the HUGEINT->float64 avg_lag_ms bug hid 3 rounds).
            g_int = np.issubdtype(got[c].dtype, np.integer)
            e_int = np.issubdtype(exp[c].dtype, np.integer)
            g_flt = np.issubdtype(got[c].dtype, np.floating)
            e_flt = np.issubdtype(exp[c].dtype, np.floating)
            if (g_int and e_flt) or (g_flt and e_int):
                ok = False
                msgs.append(f"col {c}: DTYPE int-vs-float ({got[c].dtype} vs {exp[c].dtype}) — driver hash will diverge")
                continue
            if g_flt or e_flt:
                g = g.astype(float); e = e.astype(float)
                both_nan = pd.isna(g) & pd.isna(e)
                eq = (g == e) | both_nan
                if not eq.all():
                    ok = False
                    bad = (~eq).nonzero()[0][:3]
                    d = np.nanmax(np.abs(g[~eq & ~pd.isna(g) & ~pd.isna(e)] -
                                          e[~eq & ~pd.isna(g) & ~pd.isna(e)])) if (~eq).any() else 0
                    msgs.append(f"col {c}: {(~eq).sum()} diffs maxdiff={d:.3e} rows{list(bad)} g={g[bad]} e={e[bad]}")
            else:
                try:
                    eq = (pd.Series(g).astype(str).fillna("<NA>") ==
                          pd.Series(e).astype(str).fillna("<NA>"))
                except Exception:
                    eq = pd.Series(g) == pd.Series(e)
                if not eq.all():
                    ok = False
                    bad = (~eq).to_numpy().nonzero()[0][:3]
                    msgs.append(f"col {c}: {(~eq).sum()} diffs rows{list(bad)} g={g[bad]} e={e[bad]}")
    if ok:
        results["match"].append(name)
        print(f"MATCH      {name:28s} rows={len(got)}")
    else:
        results["mismatch"].append(name)
        print(f"MISMATCH   {name:28s} " + " | ".join(msgs)[:400])

print(f"\n== {len(results['match'])} match, {len(results['mismatch'])} mismatch, "
      f"{len(results['error'])} sql-error, {len(results['no_oracle'])} no-oracle, "
      f"{len(results['missing'])} missing")
# every registry row carries an oracle, so a NO-ORACLE row fails like a mismatch
sys.exit(0 if not any(results[k] for k in ("mismatch", "error", "no_oracle", "missing")) else 1)
