"""Output checks: DuckDB answers for the query mixes, and a recomputation
from the batch files for the htap reads. Neither uses the program."""
import os
import sys

import duckdb

# The oracle comparison (tables, canonical values, column and row order)
# is the repository's own, defined once in tools/check_oracle.py.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import TABLES, rows_of  # noqa: E402


def oracle_mismatches(data_dir, results_dir, oracle):
    """For each query with oracle SQL: None if the Spark result written
    under results_dir/<query> equals DuckDB's answer on the same tables
    (rows and columns compared in canonical order), else a message."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for q, sql in sorted(oracle.items()):
        try:
            gcols, grows = rows_of(
                con.sql(f"SELECT * FROM read_parquet('{results_dir}/{q}/*.parquet')"))
            ecols, erows = rows_of(con.sql(sql))
        except duckdb.Error as e:
            out[q] = f"oracle check failed: {e}"
            continue
        if gcols != ecols:
            out[q] = f"columns {gcols} != oracle {ecols}"
        elif grows != erows:
            extra = sorted(set(grows) - set(erows))[:2]
            missing = sorted(set(erows) - set(grows))[:2]
            out[q] = (f"{len(grows)} rows vs oracle {len(erows)}; "
                      f"spark-only {extra}; oracle-only {missing}")
        else:
            out[q] = None
    return out


class HtapOracle:
    """Expected htap read results, recomputed with DuckDB from the first
    k batch files (batch i holds event ids i*rows .. (i+1)*rows-1)."""

    def __init__(self, batch_files, batch_rows):
        self.files = sorted(batch_files)
        self.rows = batch_rows
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.cache = {}

    def _src(self, k):
        return "read_parquet([" + ",".join(f"'{f}'" for f in self.files[:k]) + "])"

    def snapshot(self, version):
        """Newest surviving version per user at `version`, minus delete
        marks, aggregated per event type."""
        key = ("s", version)
        if key not in self.cache:
            k = (version + 1) // self.rows
            sql = f"""
              WITH v AS (SELECT * FROM {self._src(k)} WHERE event_id <= {version}),
              l AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                                 ORDER BY event_id DESC) AS rn FROM v)
              SELECT event_type, count(*), sum(CAST(value AS DECIMAL(30,2)))
              FROM l WHERE rn = 1 AND event_type <> 'error' GROUP BY event_type"""
            self.cache[key] = sorted(tuple(str(x) for x in r)
                                     for r in self.con.sql(sql).fetchall())
        return self.cache[key]

    def rollup(self, k):
        """(event_type, day) -> count, exact value sum, distinct users
        over the first k batches."""
        key = ("m", k)
        if key not in self.cache:
            sql = f"""
              SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR), count(*),
                     sum(CAST(value AS DECIMAL(30,2))), count(DISTINCT user_id)
              FROM {self._src(k)} GROUP BY 1, 2"""
            self.cache[key] = {(r[0], r[1]): (str(r[2]), str(r[3]), r[4])
                               for r in self.con.sql(sql).fetchall()}
        return self.cache[key]

    def check(self, op):
        """None if the read op's rows are right, else a message."""
        if op.get("error"):
            return op["error"]
        rows = op["rows"]
        if op["kind"] == "snapshot":
            got = sorted(tuple(r) for r in rows)
            exp = self.snapshot(op["version"])
            return None if got == exp else f"snapshot@{op['version']}: {got} != {exp}"
        total = sum(int(r[2]) for r in rows)
        k, rem = divmod(total, self.rows)
        if rem or not op["committed_at_start"] <= k <= op["delivered_at_end"]:
            return (f"mv holds {total} rows: not whole batches between "
                    f"{op['committed_at_start']} and {op['delivered_at_end']}")
        exp = self.rollup(k)
        got = {(r[0], r[1]): (r[2], r[3], int(r[4])) for r in rows}
        if got.keys() != exp.keys():
            return f"mv groups {sorted(got)} != {sorted(exp)}"
        for g, (cnt, vsum, est) in got.items():
            ecnt, evsum, users = exp[g]
            # users_hll is an HLL sketch (lgK 12): its estimate must be
            # near the exact distinct count
            if (cnt, vsum) != (ecnt, evsum) or abs(est - users) > max(2, 0.1 * users):
                return f"mv group {g}: {(cnt, vsum, est)} != {(ecnt, evsum, users)}"
        return None
