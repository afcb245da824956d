#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle and compare values (columns sorted by
name, rows sorted, exact equality)."""
import json, math, os, sys, threading, time
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# per-ORACLE time budget in seconds (0 = unlimited). At the 10x scale
# point some range-join oracles explode in DuckDB (q05's LPM got the
# whole process OOM-killed); a timed-out oracle is a statement about
# the oracle's cost, not the engine, and reports as TIMEOUT not FAIL.
tmo = float(os.environ.get("SELFCHECK_QUERY_TIMEOUT_S", "0") or 0)
# per-oracle COST ceiling in seconds (round-11 guard: one expensive
# oracle zeroed the whole round-10 driver board — q395's 30-iteration
# recursive-CTE replay exceeded 240s at sf0.001 alone). Unlike the
# timeout above, the ceiling doesn't interrupt: the oracle finishes and
# its answer is still compared, but a breach is counted as FAIL so an
# over-budget gate can never land quietly. Default 30s; 0 disables
# (use for 10x/100x scale probes where oracle cost is expected).
ceil_s = float(os.environ.get("SELFCHECK_MAX_ORACLE_S", "30") or 0)
oracle_secs = {}  # name -> oracle wall seconds, for the summary

con = duckdb.connect()
# no memory_limit SET: DuckDB's default (80 % of RAM) makes a large
# oracle spill to temp_directory instead of being OOM-killed
# one spill dir per process: two concurrent selfchecks sharing a temp
# dir corrupt each other's spill files (learned the hard way at 10x)
spill = os.environ.get("SELFCHECK_SPILL_DIR", f"/tmp/duckdb_spill_{os.getpid()}")
con.execute(f"SET temp_directory='{spill}'")
for tname in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
    # driver testdata = one file per table; Spark-written (e.g. the
    # ScaleUp 10x dataset) = a directory of part files
    p = f"{sfdir}/{tname}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {tname} AS SELECT * FROM '{src}'")
    if tname == "events":
        # driver parquet carries ts as TIMESTAMP(NANOS); Spark-rewritten
        # data (ScaleUp) can only write it back as INT64 nanos. Re-expose
        # as TIMESTAMP so `ts::TIMESTAMP` oracles behave identically —
        # lossless here: every driver ts is µs-aligned (checked: zero rows
        # with epoch_ns % 1000 != 0 at sf0.1)
        (t,) = con.sql("SELECT typeof(ts) FROM events LIMIT 1").fetchone()
        if t == "BIGINT":
            con.execute("CREATE OR REPLACE VIEW events AS "
                        f"SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{src}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# optional subset: SELFCHECK_ONLY="q05_j5_lpm,q23_..." reruns named
# gates without paying for the other ~85 oracles at big scale points
only = {q.strip() for q in os.environ.get("SELFCHECK_ONLY", "").split(",") if q.strip()}
if only:
    oracle = {k: v for k, v in oracle.items() if k in only}
# Oracle OUTPUT-TYPE allowlist: the only types with driver-passing
# precedent (round-11 board: 246 VARCHAR / 1356 BIGINT / 88 DOUBLE /
# 65 INTEGER / 44 BOOLEAN / 1 DATE columns across the 386 green gates).
# HUGEINT and DECIMAL are explicitly OUT: the driver's hasher serializes
# int128/decimal128 differently from Spark's decimal(38,0) even when
# values are equal — exactly the round-11 10-gate failure class. A new
# wide type may only join this list after a gate of that type has passed
# the driver once.
ALLOWED_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE"}
ok = fail = timeout = slow = 0
for name, sql in sorted(oracle.items()):
    try:  # bind-time output-type lint — no execution cost
        rel = con.sql(sql)
        badtypes = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                    if str(t) not in ALLOWED_TYPES]
        if badtypes:
            print(f"FAIL {name}: oracle output type(s) outside the "
                  f"driver-passing allowlist: {badtypes} — cast to VARCHAR "
                  f"(or BIGINT with a documented bound) on BOTH sides")
            fail += 1
            continue
    except Exception:
        pass  # bind errors surface with full context at execution below
    timer = threading.Timer(tmo, con.interrupt) if tmo > 0 else None
    if timer: timer.start()
    t0 = time.monotonic()
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        if "INTERRUPT" in str(e).upper() or "interrupted" in str(e).lower():
            print(f"TIMEOUT {name}: oracle exceeded {tmo:.0f}s in DuckDB"); timeout += 1
            if ceil_s > 0:
                # when the cost ceiling is active, an interrupted oracle is
                # the worst over-budget case (cost >= tmo, answer unknown) —
                # it must fail the run, not slip past the `slow` counter
                # (round-11 review: the q395 failure class re-enabled by the
                # TIMEOUT path's `continue`)
                oracle_secs[name] = time.monotonic() - t0
                print(f"SLOW {name}: interrupted at {oracle_secs[name]:.1f}s "
                      f"with the {ceil_s:.0f}s ceiling active"); slow += 1
        else:
            print(f"FAIL {name}: oracle error: {e}"); fail += 1
        continue
    finally:
        if timer: timer.cancel()
        oracle_secs[name] = time.monotonic() - t0
    if ceil_s > 0 and oracle_secs[name] > ceil_s:
        # still compare values below so a slow gate also reports whether
        # it is at least CORRECT; slowness alone fails the run (exit 1)
        print(f"SLOW {name}: oracle took {oracle_secs[name]:.1f}s "
              f"(> {ceil_s:.0f}s ceiling) — bound its input or iterations "
              f"before this gate ships")
        slow += 1
    try:
        got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {e}"); fail += 1; continue
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(exp.columns)}"); fail += 1; continue
    if list(exp.dtypes) != list(got.dtypes):
        # FAIL, not WARN: the round-11 board's only failure class was 10
        # gates whose VALUES matched while the driver hashed their typed
        # representations differently (HUGEINT vs decimal128) — a dtype
        # WARN here is exactly the blind spot that shipped them.
        print(f"FAIL {name}: dtypes {dict(zip(got.columns, got.dtypes))} vs {dict(zip(exp.columns, exp.dtypes))}")
        fail += 1; continue
    exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    got = got.sort_values(by=list(got.columns), ignore_index=True)
    if len(exp) != len(got):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fail += 1; continue
    mismatches = []
    for c in exp.columns:
        ec, gc = exp[c], got[c]
        for i in range(len(ec)):
            e, g = ec.iloc[i], gc.iloc[i]
            if e is None and g is None: continue
            try:
                if isinstance(e, float) or isinstance(g, float):
                    if (isinstance(e, float) and math.isnan(e)) and (isinstance(g, float) and math.isnan(g)):
                        continue
                    if e != g: mismatches.append((c, i, e, g))
                elif str(e) != str(g):
                    mismatches.append((c, i, e, g))
            except Exception:
                mismatches.append((c, i, e, g))
            if len(mismatches) > 3: break
        if len(mismatches) > 3: break
    if mismatches:
        print(f"FAIL {name}: value mismatches {mismatches[:4]}"); fail += 1
    else:
        print(f"OK   {name} ({len(got)} rows, oracle {oracle_secs[name]:.1f}s)"); ok += 1

# rows-only entries; with SELFCHECK_DET_DIR=<dir of a SECOND Verify run>
# each no-oracle gate is also checked for cross-run bit-determinism
# (both q85's quantized trainer and q87's BPE claim it — this is the
# hard signal replacing the hash oracle they can't have)
import glob, os
detdir = os.environ.get("SELFCHECK_DET_DIR", "")
for d in sorted(glob.glob(f"{outdir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if name in oracle: continue
    if only and name not in only: continue
    try:
        n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        if n == 0:
            print(f"EMPTY {name} rows-only (0 rows)"); fail += 1; continue
        if detdir and os.path.isdir(f"{detdir}/{name}"):
            a = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
            b = con.sql(f"SELECT * FROM '{detdir}/{name}/*.parquet'").df()
            cols = sorted(a.columns)
            a = a.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)
            b = b.reindex(sorted(b.columns), axis=1).sort_values(by=sorted(b.columns), ignore_index=True)
            if list(b.columns) != cols or not a.equals(b):
                print(f"FAIL {name}: rows-only output differs between runs "
                      f"(determinism violation)"); fail += 1; continue
            print(f"OK   {name} rows-only ({n} rows, cross-run deterministic)")
        else:
            print(f"OK   {name} rows-only ({n} rows)")
        ok += 1
    except Exception as e:
        print(f"FAIL {name}: {e}"); fail += 1

if oracle_secs:
    tot = sum(oracle_secs.values())
    top = sorted(oracle_secs.items(), key=lambda kv: -kv[1])[:5]
    print(f"\noracle wall time: {tot:.1f}s total over {len(oracle_secs)} oracles; slowest: "
          + ", ".join(f"{n}={s:.1f}s" for n, s in top))
print(f"\n{ok} ok, {fail} fail"
      + (f", {timeout} oracle-timeout" if timeout else "")
      + (f", {slow} over the {ceil_s:.0f}s oracle ceiling" if slow else ""))
sys.exit(1 if fail or slow else 0)
