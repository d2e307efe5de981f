"""Compares each checked query output with its SparkEntry.oracleSql run in
DuckDB, with tools/check_oracle.py's comparison rules. It runs as its own
process so that run.py can cut off an oracle that does not finish.

    python3 perfbench/check.py <checkout> <data dir> <check dir> <oracle.json>

Prints one JSON object: query name -> "" when the output matches, else the
failure.
"""
import json
import os
import sys


def main(root, data_dir, check_dir, oracle_json):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check_oracle.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(oracle_json) as fh:
        oracle = json.load(fh)
    errors = {}
    for name, sql in sorted(oracle.items()):
        if not sql:
            errors[name] = "no oracleSql entry"
            continue
        try:
            msg = check_oracle.compare(name, check_oracle.load_spark(check_dir, name),
                                       con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            msg = f"{name}: ORACLE ERROR {e}"
        errors[name] = "" if "OK" in msg else msg
    print(json.dumps(errors))


if __name__ == "__main__":
    main(*sys.argv[1:5])
