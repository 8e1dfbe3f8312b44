"""Panel output checks: each query's result against its registered DuckDB
oracle (`SparkEntry.oracleSql`), compared the way the repo's oracle gate
compares them: columns sorted by name, rows by every column, values and
dtypes exact.

Two oracles (the minhash family over `documents`) take 1-2 minutes each
in DuckDB, longer than a benchmark run may last. `documents` is one fixed
corpus (gen.documents), so their answers are computed once and committed
under golden/ as digests, keyed by the SHA-256 of the oracle SQL and of the
documents file. A check uses the golden digest only when both keys match;
otherwise it runs the oracle live. Refresh after an oracle or corpus change:

    python3 perfbench/oracles.py refresh <results/oracle_sql.json> <data_dir>
"""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden")
SLOW = ("dedup_clusters", "dedup_minhash_lsh")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings", "payments")
# panel queries that are not in the registry, with the benchmark's own oracle
EXTRA = {"dwm_wide_batch": """
SELECT pay_id, p_orderkey, pay_ts, pay_amount, l_linenumber, o_orderdate, o_totalprice,
       c_name, n_name
FROM payments
JOIN (SELECT o_orderkey, l_linenumber, o_orderdate, o_totalprice, c_name, n_name
      FROM orders
      JOIN lineitem ON l_orderkey = o_orderkey AND l_shipdate >= o_orderdate
                   AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      LEFT JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation ON c_nationkey = n_nationkey) ow
  ON o_orderkey = p_orderkey AND o_orderdate >= pay_ts - INTERVAL 15 DAY
 AND o_orderdate <= pay_ts + INTERVAL 5 DAY"""}


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "uint32", "int16", "int8"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df) -> str:
    """Exact fingerprint of a normalized frame: dtypes plus every value
    (floats print with repr, which round-trips)."""
    return sha((str(list(df.dtypes)) + df.to_csv(index=False)).encode())


def connect(data_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def golden_key(sql: str, data_dir: str) -> dict:
    with open(os.path.join(data_dir, "documents.parquet"), "rb") as f:
        return {"sql": sha(sql.encode()), "documents": sha(f.read())}


def check(res_dir: str, data_dir: str, queries) -> list:
    """(check name, ok) for each of `queries`, whose results the panel saved
    under `res_dir/<query>/`; a missing result fails its check."""
    import pandas as pd
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = {**json.load(f), **EXTRA}
    con = connect(data_dir)
    out = []
    for q in queries:
        try:
            got = norm(con.execute(f"SELECT * FROM '{res_dir}/{q}/*.parquet'").df())
            gpath = os.path.join(GOLDEN, f"{q}.json")
            golden = None
            if q in SLOW and os.path.exists(gpath):
                with open(gpath) as f:
                    golden = json.load(f)
                if golden["key"] != golden_key(oracle[q], data_dir):
                    golden = None
            if golden is not None:
                ok = digest(got) == golden["digest"]
            else:
                pd.testing.assert_frame_equal(got, norm(con.execute(oracle[q]).df()),
                                              check_dtype=True, check_exact=True)
                ok = True
        except Exception as e:  # noqa: BLE001 — any mismatch or error fails the check
            print(f"perfbench: oracle check {q}: {str(e)[:300]}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {q} differs from its oracle", file=sys.stderr)
        out.append((f"{q} matches its DuckDB oracle", ok))
    return out


def refresh(oracle_json: str, data_dir: str) -> None:
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = connect(data_dir)
    os.makedirs(GOLDEN, exist_ok=True)
    for q in SLOW:
        d = digest(norm(con.execute(oracle[q]).df()))
        with open(os.path.join(GOLDEN, f"{q}.json"), "w") as f:
            json.dump({"key": golden_key(oracle[q], data_dir), "digest": d}, f, indent=1)
            f.write("\n")
        print(q, d)


if __name__ == "__main__" and sys.argv[1:2] == ["refresh"]:
    refresh(sys.argv[2], sys.argv[3])
