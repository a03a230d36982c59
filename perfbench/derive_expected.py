"""Derive perfbench/expected.json from the DuckDB oracle.

For every registry query the benchmark runs, take its oracle SQL
(`SparkEntry.oracleSql`, dumped by `perfbench.Main --dump-oracle`), run it
in DuckDB over the benchmark's table set, and record the result's
fingerprint. The benchmark checks each query's warm-up result against it.
Needs the `duckdb` Python package; run once whenever the table generator or
a query's oracle changes:

  python3 perfbench/derive_expected.py     (from the root of a checkout)
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fingerprint  # noqa: E402
import gen  # noqa: E402


def main():
    import duckdb
    build.build()
    sql_file = os.path.join(build.OUT, "oracle_sql.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(),
                    "perfbench.Main", "--dump-oracle", sql_file],
                   check=True, cwd=build.ROOT)
    with open(sql_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(build.TABLES, t)}.parquet'")
    expected = {}
    for name in sorted(oracle):
        cur = con.execute(oracle[name])
        cols = [d[0] for d in cur.description]
        expected[name] = fingerprint.of(cols, cur.fetchall())
        print(name, expected[name], file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
