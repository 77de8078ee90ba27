#!/usr/bin/env python3
"""Local replica of the driver's correctness compare: run each oracle SQL
in DuckDB over the sf parquet tables, compare rows/schema/values against
the Verify parquet dump (columns sorted by name, rows sorted by all cols).

DTYPE-STRICT (round-5 judge ask #2): the round-4 driver hash-failed 8
queries whose oracle SQL left a sum() uncast (DuckDB decimal128(38,0) vs
Spark int64) while this script's check_dtype=False passed them. The local
gate must be at least as strict as the driver, so we now compare the
DuckDB result's Arrow schema against the Spark parquet Arrow schema and
fail on any physical-type delta (decimal-vs-int, float32-vs-float64,
int32-vs-int64, ...). Benign representation deltas the driver provably
tolerates are normalized: string vs large_string, timestamp unit/tz, and
list<large_string> vs list<string> element flavor."""
import duckdb, json, sys, glob
import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify01"

# Bounded memory, no spill: a query that needs more than 2 GB fails with
# an out-of-memory error, recorded as FAIL, and the replay goes on.
# Spilling stays off because DuckDB 1.0.0 does not hold its temp files to
# max_temp_directory_size: q_bpe_segment wrote 18.6 GB of them in 20 s.
con = duckdb.connect(config={"memory_limit": "2GB", "temp_directory": ""})
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")


def canon(t: pa.DataType) -> str:
    """Canonical physical-type string; collapse only deltas that are pure
    in-memory representation (same parquet logical type)."""
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"  # unit/tz differ between engines' readers
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon(t.value_type)}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    return str(t)


sql = json.load(open(f"{out}/oracle_sql.json"))
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
fails = []
for name, q in sorted(sql.items()):
    if only and name not in only:
        continue
    try:
        oracle_tbl = con.execute(q).arrow()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {e}")
        fails.append(name); continue
    spark_tbl = pq.read_table(glob.glob(f"{out}/{name}/*.parquet")[0])
    o_types = {f.name: canon(f.type) for f in oracle_tbl.schema}
    s_types = {f.name: canon(f.type) for f in spark_tbl.schema}
    if sorted(o_types) != sorted(s_types):
        print(f"FAIL {name}: columns {sorted(s_types)} vs oracle {sorted(o_types)}")
        fails.append(name); continue
    dt = [f"{c}: spark={s_types[c]} oracle={o_types[c]}"
          for c in sorted(o_types) if o_types[c] != s_types[c]]
    if dt:
        print(f"FAIL {name}: dtype mismatch: {'; '.join(dt)}")
        fails.append(name); continue
    oracle = oracle_tbl.to_pandas()
    spark = spark_tbl.to_pandas()
    o = oracle.reindex(sorted(oracle.columns), axis=1)
    s = spark.reindex(sorted(spark.columns), axis=1)
    if len(o) != len(s):
        print(f"FAIL {name}: rows {len(s)} vs oracle {len(o)}")
        fails.append(name); continue
    o2 = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s2 = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(o2, s2, check_dtype=False, check_exact=True)
        print(f"OK   {name}: {len(s)} rows")
    except AssertionError as e:
        print(f"FAIL {name}: values differ: {str(e).splitlines()[-1][:200]}")
        fails.append(name)
print("----")
print("FAILED:", fails if fails else "none")
sys.exit(1 if fails else 0)
