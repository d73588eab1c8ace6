#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Reads the Verify output dir (parquet per query + oracle_sql.json),
registers the sf tables as DuckDB views, runs each oracle SQL, and
compares row count / column names / values against the Spark dump.
"""
import sys, json, glob, os, shutil, tempfile
import duckdb

# DuckDB spills past its memory limit into temp_directory; unbounded, an
# oracle that explodes (dedup_apply_cc's lockstep rounds at sf0.1) fills
# the disk. With this cap the oracle fails with DuckDB's own
# out-of-budget error instead, reported against its key.
TEMP_BUDGET = "8GB"

# (oracle_dtype, spark_dtype) pairs that are exact-value-preserving and
# empirically pass the driver's hash compare. Anything else is a FAIL.
DTYPE_WIDEN_OK = set()

def main(sfdir, outdir):
    # spill under the output dir (hidden, so the query loop skips it),
    # removed when the check ends
    spill = tempfile.mkdtemp(prefix=".duckdb_spill_", dir=outdir)
    try:
        return compare(sfdir, outdir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)

def compare(sfdir, outdir, spill):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET max_temp_directory_size = '{TEMP_BUDGET}'")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(outdir)):
        qdir = os.path.join(outdir, name)
        if name.startswith(".") or not os.path.isdir(qdir):
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet written"); n_fail += 1; continue
        spark_df = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            status = "rows-only"
            if len(spark_df) > 0:
                print(f"pass {name}: {len(spark_df)} rows ({status})"); n_pass += 1
            else:
                print(f"FAIL {name}: 0 rows ({status})"); n_fail += 1
            continue
        try:
            ora_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        scols, ocols = sorted(spark_df.columns), sorted(ora_df.columns)
        if scols != ocols:
            print(f"FAIL {name}: schema {scols} vs {ocols}"); n_fail += 1; continue
        if len(spark_df) != len(ora_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(ora_df)}"); n_fail += 1; continue
        s = spark_df[scols].reset_index(drop=True)
        o = ora_df[ocols].reset_index(drop=True)
        mismatches = []
        for c in scols:
            sv, ov = s[c], o[c]
            # Dtype-strict: the driver's hash compare rejects dtype
            # mismatches even when values agree (q19 HUGEINT, r5), so a
            # coercing local gate is NOT equivalent to the real one.
            # Only the widenings in DTYPE_WIDEN_OK (exact-value-preserving,
            # observed green on the driver) are coerced, with a warning.
            sd, od = str(sv.dtype), str(ov.dtype)
            if sd != od:
                if (od, sd) in DTYPE_WIDEN_OK:
                    print(f"  warn {name}.{c}: oracle {od} widened to spark {sd}")
                    ov = ov.astype(sv.dtype)
                else:
                    mismatches.append(
                        f"{c}: dtype spark={sd} oracle={od} (dtype-strict; "
                        f"driver hash compare would reject this)")
                    continue
            try:
                eq = (sv == ov) | (sv.isna() & ov.isna())
            except Exception:
                eq = sv.astype(str) == ov.astype(str)
            if not eq.all():
                bad = (~eq).idxmax()
                mismatches.append(f"{c}[row {bad}]: spark={sv[bad]!r} oracle={ov[bad]!r} ({int((~eq).sum())} diffs)")
        if mismatches:
            print(f"FAIL {name}: " + "; ".join(mismatches[:3])); n_fail += 1
        else:
            print(f"pass {name}: {len(s)} rows hash-match"); n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sfdir, outdir))
