"""Output checks for the benchmark, computed independently in DuckDB.

Each check returns a list of mismatch descriptions, empty when the
workload's outputs are correct, and the set of operations that failed.

- elt_daily: the final marts and the users SCD2 history equal a DuckDB
  computation over the generated sources (latest version per key among
  the change batches the last cycle saw; SCD2 history as islands of
  unchanged snapshots, closed when a user changes or disappears). The
  final state is the work of every cycle, so a mismatch fails them all.
- query_mix: each key's warm-up result equals its registry oracle SQL,
  compared the way tools/check_oracle.py compares (columns by name,
  rows sorted, values elementwise), which fails every operation; and
  each key's row count in each timed operation equals the oracle's,
  which fails that operation.
"""
import glob
import math
import os

import duckdb
import pandas as pd

DAY = 86400
US = 1000000


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = %d" % max(1, len(os.sched_getaffinity(0))))
    return con


def parquet(path):
    return "read_parquet('%s/**/*.parquet', hive_partitioning = true)" % path


def normalized(con, relation, columns):
    """`columns` of a relation, timestamps as epoch microseconds."""
    rel = con.sql("SELECT * FROM %s LIMIT 0" % relation)
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    out = []
    for c in columns:
        t = types[c].upper()
        if t.startswith("TIMESTAMP"):
            out.append("epoch_us(%s) AS %s" % (c, c))
        elif t == "DATE":
            out.append("CAST(%s AS DATE) AS %s" % (c, c))
        else:
            out.append(c)
    return "SELECT %s FROM %s" % (", ".join(out), relation)


def same(con, label, expected_sql, actual_relation, columns):
    """Multiset equality of the expected query and the actual table."""
    con.execute("CREATE OR REPLACE TEMP TABLE exp AS SELECT %s FROM (%s)"
                % (", ".join(columns), expected_sql))
    con.execute("CREATE OR REPLACE TEMP TABLE act AS %s"
                % normalized(con, actual_relation, columns))
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM act)").fetchone()[0]
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM act EXCEPT ALL SELECT * FROM exp)").fetchone()[0]
    n = con.sql("SELECT count(*) FROM exp").fetchone()[0]
    if missing or extra:
        return ["%s: %d expected rows missing, %d unexpected rows (of %d)" % (label, missing, extra, n)]
    if n == 0:
        return ["%s: no rows" % label]
    return []


def source_views(con, src, last_batch):
    """Views over the sources as the cycle of day `last_batch` saw them."""
    con.execute("CREATE OR REPLACE VIEW users_src AS SELECT * FROM %s" % parquet(src + "/users.parquet"))
    for t in ("savings_plan", "savings_transaction"):
        con.execute("CREATE OR REPLACE VIEW %s_src AS SELECT * EXCLUDE (batch) FROM %s "
                    "WHERE batch <= %d" % (t, parquet("%s/%s.parquet" % (src, t)), last_batch))
    # timestamps as epoch microseconds from here on
    con.execute("CREATE OR REPLACE VIEW plans_v AS SELECT * REPLACE (epoch_us(created_at) AS "
                "created_at, epoch_us(updated_at) AS updated_at) FROM savings_plan_src")
    con.execute("CREATE OR REPLACE VIEW txns_v AS SELECT * REPLACE (epoch_us(created_at) AS "
                "created_at, epoch_us(updated_at) AS updated_at) FROM savings_transaction_src")


def latest(view, key, cutoff_us):
    return ("SELECT * FROM %s WHERE updated_at < %d QUALIFY row_number() OVER "
            "(PARTITION BY %s ORDER BY updated_at DESC) = 1" % (view, cutoff_us, key))


def scd2_islands(day_zero, last_day):
    """SCD2 history of users over snapshots 0..last_day: one version per
    run of days with unchanged (state, occupation), closed on the day
    after the run when the user changed or disappeared."""
    return """
      WITH s AS (SELECT user_id, full_name, email, state, occupation,
                        CAST(snapshot_day AS BIGINT) AS d
                 FROM users_src WHERE snapshot_day <= {n}),
      g AS (SELECT *, d - row_number() OVER (PARTITION BY user_id, state, occupation
                                             ORDER BY d) AS grp FROM s),
      runs AS (SELECT user_id, state, occupation, min(d) AS d0, max(d) AS d1,
                      arg_min(full_name, d) AS full_name, arg_min(email, d) AS email
               FROM g GROUP BY user_id, state, occupation, grp)
      SELECT user_id, full_name, email, state, occupation,
             ({z} + d0 * {day}) * {us} AS valid_from,
             CASE WHEN d1 < {n} THEN ({z} + (d1 + 1) * {day}) * {us} END AS valid_to
      FROM runs""".format(n=last_day, z=day_zero, day=DAY, us=US)


def check_elt_daily(result, out):
    ex = result["export"]
    n = int(ex["last_day"])
    z = int(ex["day_zero"])
    con = connect()
    source_views(con, ex["src"], n)
    cutoff = (z + (n + 1) * DAY) * US
    hist = scd2_islands(z, n)
    users = "(%s)" % hist
    current = "(SELECT * FROM %s WHERE valid_to IS NULL)" % users
    plans = "(%s)" % latest("plans_v", "plan_id", cutoff)
    txns = "(%s)" % latest("txns_v", "txn_id", cutoff)
    user_cols = ["user_id", "full_name", "email", "state", "occupation"]
    bad = []
    bad += same(con, "users_scd2", hist, parquet(out + "/users_scd2"),
                user_cols + ["valid_from", "valid_to"])
    bad += same(con, "dim_users", "SELECT * FROM %s" % current, parquet(out + "/dim_users"),
                user_cols + ["valid_from"])
    bad += same(con, "dim_savings_plan",
                "SELECT p.*, u.state AS user_state FROM %s p LEFT JOIN %s u USING (user_id)"
                % (plans, current), parquet(out + "/dim_savings_plan"),
                ["plan_id", "user_id", "product", "target_amount", "status", "created_at",
                 "updated_at", "user_state"])
    bad += same(con, "fact_savings_transaction",
                "SELECT t.*, p.user_id, p.product, "
                "CAST(make_timestamp(t.created_at) AS DATE) AS txn_date "
                "FROM %s t LEFT JOIN %s p USING (plan_id)" % (txns, plans),
                parquet(out + "/fact_savings_transaction"),
                ["txn_id", "plan_id", "amount", "txn_type", "status", "created_at",
                 "updated_at", "user_id", "product", "txn_date"])
    return bad, ({o["i"] for o in result["ops"]} if bad else set())


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b):
    if a is None and b is None:
        return True
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if a == 0.0 and b == 0.0:
            return math.copysign(1.0, a) == math.copysign(1.0, b)
        return a == b
    return str(a) == str(b)


def check_query_mix(result, out):
    ex = result["export"]
    ops = result["ops"]
    con = duckdb.connect()
    for f in sorted(glob.glob(ex["star"] + "/*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, f))
    bad = []  # mismatches of the warm-up results, which fail every operation
    counts = []  # row-count mismatches, which fail their operation
    failed_ops = set()
    for name, sql in sorted(ex["oracle_sql"].items()):
        duck_df = canon(con.sql(sql).df())
        for o in ops:
            n = o["counts"].get(name)
            if n is not None and n != len(duck_df):
                failed_ops.add(o["i"])
                counts.append("%s in op %d: %d rows vs %d" % (name, o["i"], n, len(duck_df)))
        files = glob.glob("%s/%s/*.parquet" % (ex["outputs"], name))
        if not files:
            bad.append("%s: no output" % name)
            continue
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
        if list(spark_df.columns) != list(duck_df.columns):
            bad.append("%s: columns %s vs %s" % (name, list(spark_df.columns), list(duck_df.columns)))
        elif len(spark_df) != len(duck_df):
            bad.append("%s: %d rows vs %d" % (name, len(spark_df), len(duck_df)))
        elif len(spark_df) == 0:
            bad.append("%s: no rows" % name)
        else:
            for c in spark_df.columns:
                diff = next(((i, a, b) for i, (a, b) in
                             enumerate(zip(spark_df[c].tolist(), duck_df[c].tolist()))
                             if not values_equal(a, b)), None)
                if diff:
                    bad.append("%s: column %s row %d: %r vs %r" % ((name, c) + diff))
                    break
    if bad:
        failed_ops = {o["i"] for o in ops}
    return bad + counts, failed_ops


def run(workload, result, out):
    return {"elt_daily": check_elt_daily, "query_mix": check_query_mix}[workload](result, out)


def write_layer_report(result, path):
    """Markdown table of a traced run's per-layer numbers."""
    rows = ["| metric | value per operation |", "|---|---|"]
    for k, v in sorted(result["per_layer"].items()):
        rows.append("| `%s` | %s |" % (k, "n/a" if v is None else "%.4g" % v))
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
