"""Seeded input generator for the benchmark's workloads (DuckDB, one
process, at most nproc threads).

Every value is a hash of (seed, salt, row coordinates), so a seed always
yields the same tables. Each workload's directory gets a `meta.json`
with the seed, the sizes, and per-table row counts and bytes.

- `elt_daily`: Nomba-shaped sources. `users` is a full snapshot per day
  (hive partition `snapshot_day`). `savings_plan` and
  `savings_transaction` hold every row version: the history is batch 0,
  and each day d adds batch d with in-place updates of earlier keys and
  new keys. The last `DUPLICATES` updates of a batch repeat a key
  updated earlier the same day. The last `TIES` rows of each batch
  (the history included) share the day's last second, which becomes
  the next cycle's watermark. Each later batch also carries late rows,
  two updates and one insert, stamped with that same second: rows
  tied at the previous watermark that arrive after it was taken.
- `query_mix`: a star schema with the testdata schema (TPC-H-like
  tables plus `events` and `documents`), column for column.
"""
import json
import os

import duckdb

DAY = 86400
DAY_ZERO = 1767225600  # 2026-01-01T00:00:00Z, day 0 of the daily sources
TIES = 3
DUPLICATES = 20

ELT = dict(users0=4000, users_per_day=12, delete_share=0.05,
           plans0=8000, plans_per_day=40, plan_updates_per_day=100,
           txns0=60000, txns_per_day=900, txn_updates_per_day=300,
           history_days=28, days=30)
STAR_SCALE = 0.005

STATES = ["Lagos", "Abuja FCT", "Kano", "Rivers", "Oyo", "Kaduna", "Enugu", "Anambra",
          "Delta", "Ogun", "Edo", "Plateau", "Kwara", "Osun", "Imo", "Akwa Ibom",
          "Cross River", "Borno", "Sokoto", "Benue"]
OCCUPATIONS = ["trader", "engineer", "teacher", "driver", "nurse", "farmer", "student",
               "artisan", "civil servant", "banker", "doctor", "tailor"]
FIRST = ["Ada", "Chinedu", "Emeka", "Funmi", "Ibrahim", "Kemi", "Musa", "Ngozi", "Tunde",
         "Yetunde", "Zainab", "Bola"]
LAST = ["Okafor", "Adeyemi", "Bello", "Eze", "Ibrahim", "Okonkwo", "Balogun", "Nwosu",
        "Lawal", "Obi"]
PRODUCTS = ["fixed", "target", "flex", "locked"]
PLAN_STATUS = ["active", "active", "active", "matured", "withdrawn", "paused"]
TXN_TYPES = ["deposit", "deposit", "withdrawal", "interest", "fee"]
TXN_STATUS = ["success", "success", "success", "pending", "failed", "reversed"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "cold", "shiny", "red"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "plate", "spring"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = ["query", "row", "stream", "the", "batch", "sort", "value", "hash", "filter", "big",
         "data", "spark", "line", "small", "fast", "group", "customer", "part", "column",
         "order", "scan", "a", "slow", "agg", "key", "window", "table", "merge", "vector",
         "join"]


class Sql:
    """SQL fragments for seeded values."""

    def __init__(self, seed):
        self.seed = seed

    def u(self, salt, *cols):
        """Uniform [0, 1) from the seed, a salt and row coordinates."""
        # one string per value: hash() of several arguments combines
        # per-argument hashes, which correlates draws that share columns
        return ("((hash(concat_ws(',', '%d:%s', %s)) %% 1099511627776) / 1099511627776.0)"
                % (self.seed, salt, ", ".join(cols)))

    def below(self, n, salt, *cols):
        return "CAST(floor(%s * (%s)) AS BIGINT)" % (self.u(salt, *cols), n)

    def pick(self, values, salt, *cols):
        lst = "[" + ", ".join("'%s'" % v for v in values) + "]"
        return "%s[1 + %s]" % (lst, self.below(len(values), salt, *cols))


def _copy(con, query, path, partition=None):
    opts = "FORMAT PARQUET" + (", PARTITION_BY (%s)" % partition if partition else "")
    con.execute("COPY (%s) TO '%s' (%s)" % (query, path, opts))


def _size(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def late_slots(updates):
    """Batch slots of the late rows: two updates outside the ranges the
    duplicates repeat, and the first insert."""
    return [DUPLICATES, DUPLICATES + 1, updates]


def elt(con, s, e, out):
    n_users = e["users0"] + e["days"] * e["users_per_day"]
    _copy(con, """
      WITH u AS (
        SELECT range AS user_id,
          CASE WHEN range < {u0} THEN 0 ELSE (range - {u0}) // {upd} + 1 END AS born,
          10 + {sp} AS sp, 20 + {op} AS op
        FROM range({n})),
      g AS (SELECT *, CASE WHEN {dele} < {share} THEN born + 1 + {dd}
                           ELSE 9223372036854775807 END AS gone FROM u)
      SELECT user_id, {fn} || ' ' || {ln} AS full_name,
        'user' || user_id || '@example.ng' AS email,
        {state} AS state, {occ} AS occupation, snapshot_day
      FROM g, (SELECT range AS snapshot_day FROM range({days1}))
      WHERE born <= snapshot_day AND snapshot_day < gone""".format(
        u0=e["users0"], upd=e["users_per_day"], n=n_users, share=e["delete_share"],
        days1=e["days"] + 1,
        sp=s.below(60, "sp", "range"), op=s.below(100, "op", "range"),
        dele=s.u("del", "user_id"), dd=s.below(e["days"], "dd", "user_id"),
        fn=s.pick(FIRST, "fn", "user_id"), ln=s.pick(LAST, "ln", "user_id"),
        state=s.pick(STATES, "st", "user_id",
                     "(snapshot_day + %s) // sp" % s.below("sp", "so", "user_id")),
        occ=s.pick(OCCUPATIONS, "oc", "user_id",
                   "(snapshot_day + %s) // op" % s.below("op", "oo", "user_id"))),
        out + "/users.parquet", "snapshot_day")

    def created_day(key, n0, per_day):
        return "(CASE WHEN {k} < {n0} THEN 0 ELSE ({k} - {n0}) // {p} + 1 END)".format(
            k=key, n0=n0, p=per_day)

    def second_of_day(k, n, updates):
        """Second of its day for slot k of a batch of n rows; -1, the
        previous day's last second, for the late slots."""
        return ("(CASE WHEN {k} IN ({late}) THEN -1 WHEN {k} >= {n} - {t} THEN {last} "
                "ELSE {k} * {span} // {n} END)").format(
            k=k, late=", ".join(map(str, late_slots(updates))), n=n, t=TIES, last=DAY - 1,
            span=DAY - 400)

    def created_at(salt, key, n0, per_day, updates):
        d = created_day(key, n0, per_day)
        k = "({upd} + ({key} - {n0}) - ({d} - 1) * {p})".format(
            upd=updates, key=key, n0=n0, d=d, p=per_day)
        # history rows end 3 s before day 1, below the history's ties
        hist = "({lo} + {r})".format(lo=DAY_ZERO - e["history_days"] * DAY,
                                     r=s.below((e["history_days"] + 1) * DAY - 2, salt, key))
        return "(CASE WHEN {d} = 0 THEN {hist} ELSE {z} + {d} * {day} + {sod} END)".format(
            d=d, hist=hist, z=DAY_ZERO, day=DAY,
            sod=second_of_day(k, updates + per_day, updates))

    def versions(n0, inserts, updates, existing, salt):
        """(key, batch, k, t): the history, then per day `updates`
        updates of earlier keys followed by `inserts` new keys."""
        n = updates + inserts
        assert updates >= 5 * DUPLICATES and n0 > 2 * TIES
        k2 = "(CASE WHEN k >= {u} - {d} THEN k - {d} * 4 ELSE k END)".format(u=updates, d=DUPLICATES)
        # the two late updates take distinct history keys that hold no
        # version at the tied second, so each key's latest is unique
        half = (n0 - TIES) // 2
        late_a, late_b = late_slots(updates)[:2]
        upd = ("CASE WHEN k = {a} THEN {lo} WHEN k = {b} THEN {half} + {hi} "
               "ELSE {any} END").format(
            a=late_a, b=late_b, half=half,
            lo=s.below(half, salt + "la", "batch"), hi=s.below(half, salt + "lb", "batch"),
            any=s.below(existing("batch - 1"), salt + "u", "batch", k2))
        return """
          SELECT range AS key, 0 AS batch, -1 AS k, -1 AS t FROM range({n0})
          UNION ALL
          SELECT CASE WHEN k < {u} THEN {upd} ELSE {ex} + k - {u} END AS key, batch, k,
                 {z} + batch * {day} + {sod} AS t
          FROM (SELECT range // {n} + 1 AS batch, range % {n} AS k FROM range({total}))""".format(
            n0=n0, u=updates, n=n, total=e["days"] * n, z=DAY_ZERO, day=DAY,
            upd=upd, ex=existing("batch - 1"), sod=second_of_day("k", n, updates))

    def table(name, key, n0, per_day, updates, body, salt):
        created = created_at(salt + "c", "key", n0, per_day, updates)
        existing = lambda d: "(%d + (%s) * %d)" % (n0, d, per_day)
        _copy(con, """
          SELECT {body},
            to_timestamp({created}) AS created_at,
            to_timestamp(CASE WHEN batch > 0 THEN t
                WHEN key >= {n0} - {ties} THEN {tie}
                ELSE {created} + {hist_upd} END) AS updated_at,
            batch
          FROM ({versions})""".format(
            body=body, created=created, n0=n0, ties=TIES, tie=DAY_ZERO + DAY - 1,
            hist_upd=s.below("%d - %s" % (DAY_ZERO + DAY - 2, created), salt + "d", "key"),
            versions=versions(n0, per_day, updates, existing, salt)),
            "%s/%s.parquet" % (out, name), "batch")

    plans_at = lambda d: "(%d + (%s) * %d)" % (e["plans0"], d, e["plans_per_day"])
    users_at = lambda d: "(%d + (%s) * %d)" % (e["users0"], d, e["users_per_day"])
    table("savings_plan", "plan_id", e["plans0"], e["plans_per_day"], e["plan_updates_per_day"],
          """key AS plan_id,
             {user} AS user_id, {product} AS product,
             CAST(floor({amount} * 50000000) / 100 AS DECIMAL(18, 2)) AS target_amount,
             {status} AS status""".format(
              user=s.below(users_at(created_day("key", e["plans0"], e["plans_per_day"])), "pu", "key"),
              product=s.pick(PRODUCTS, "pp", "key"),
              amount=s.u("pa", "key", "batch", "k"),
              status=s.pick(PLAN_STATUS, "ps", "key", "batch", "k")), "p")
    table("savings_transaction", "txn_id", e["txns0"], e["txns_per_day"], e["txn_updates_per_day"],
          """key AS txn_id,
             {plan} AS plan_id,
             CAST(floor({amount} * 25000000) / 100 AS DECIMAL(18, 2)) AS amount,
             {ttype} AS txn_type, {status} AS status""".format(
              plan=s.below(plans_at(created_day("key", e["txns0"], e["txns_per_day"])), "tp", "key"),
              amount=s.u("ta", "key"), ttype=s.pick(TXN_TYPES, "tt", "key"),
              status=s.pick(TXN_STATUS, "ts", "key", "batch", "k")), "t")
    return ["users", "savings_plan", "savings_transaction"]


def star(con, s, sf, out):
    n = lambda base: max(1, round(base * sf))
    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    money = lambda salt, scale: "floor(%s * %d) / 100" % (s.u(salt, "range"), scale)
    acct = lambda salt: "(floor(%s * 1099999) - 99999) / 100" % s.u(salt, "range")
    _copy(con, "SELECT CAST(k AS INTEGER) AS r_regionkey, r AS r_name FROM (VALUES %s) v(k, r)"
          % ", ".join("(%d, '%s')" % kv for kv in enumerate(REGIONS)), out + "/region.parquet")
    _copy(con, "SELECT CAST(range AS INTEGER) AS n_nationkey, 'NATION_' || range AS n_name, "
          "CAST(range % 5 AS INTEGER) AS n_regionkey FROM range(25)", out + "/nation.parquet")
    _copy(con, """SELECT range AS c_custkey, printf('Customer#%09d', range) AS c_name,
        CAST({nat} AS INTEGER) AS c_nationkey, {bal} AS c_acctbal, {seg} AS c_mktsegment
        FROM range({n})""".format(nat=s.below(25, "cn", "range"), bal=acct("cb"),
                                  seg=s.pick(SEGMENTS, "cs", "range"), n=n_cust),
          out + "/customer.parquet")
    _copy(con, """SELECT range AS s_suppkey, printf('Supplier#%09d', range) AS s_name,
        CAST({nat} AS INTEGER) AS s_nationkey, {bal} AS s_acctbal FROM range({n})""".format(
        nat=s.below(25, "sn", "range"), bal=acct("sb"), n=n_supp), out + "/supplier.parquet")
    _copy(con, """SELECT range AS p_partkey, {adj} || ' ' || {noun} AS p_name,
        'Brand#' || (1 + {brand}) AS p_brand, {ptype} AS p_type,
        CAST(1 + {size} AS INTEGER) AS p_size, (9000 + range % 1000) / 10 AS p_retailprice
        FROM range({n})""".format(
        adj=s.pick(PART_ADJ, "pa", "range"), noun=s.pick(PART_NOUN, "pn", "range"),
        brand=s.below(25, "pb", "range"), ptype=s.pick(PART_TYPES, "pt", "range"),
        size=s.below(50, "pz", "range"), n=n_part), out + "/part.parquet")
    order_day = s.below(2403, "od", "range")  # 1995-01-01 .. 2001-08-01
    _copy(con, """SELECT range AS o_orderkey, {cust} AS o_custkey, {status} AS o_orderstatus,
        {price} AS o_totalprice, CAST(DATE '1995-01-01' + CAST({day} AS INTEGER) AS TIMESTAMP)
        AS o_orderdate, {prio} AS o_orderpriority FROM range({n})""".format(
        cust=s.below(n_cust, "oc", "range"), status=s.pick(["O", "F", "P"], "os", "range"),
        price=money("ot", 50000000), day=order_day, prio=s.pick(PRIORITIES, "op", "range"),
        n=n_ord), out + "/orders.parquet")
    # each line draws its order, so lines per order are Poisson-like
    # (mean 4, a tail past 10) as in the testdata
    line = "range"
    _copy(con, """SELECT l_orderkey, {part} AS l_partkey, {supp} AS l_suppkey,
        CAST(1 + {ln} AS INTEGER) AS l_linenumber,
        CAST(1 + {qty} AS DOUBLE) AS l_quantity, floor({ext} * 10000000) / 100 AS l_extendedprice,
        {disc} / 100 AS l_discount, {tax} / 100 AS l_tax, {rf} AS l_returnflag,
        {ls} AS l_linestatus,
        CAST(DATE '1995-01-01' + CAST({day} + 1 + {ship} AS INTEGER) AS TIMESTAMP) AS l_shipdate
        FROM (SELECT range, {order} AS l_orderkey FROM range({n}))""".format(
        order=s.below(n_ord, "lo", line), n=4 * n_ord, day=order_day.replace("range", "l_orderkey"),
        part=s.below(n_part, "lp", line), supp=s.below(n_supp, "ls", line),
        ln=s.below(7, "ln", line), qty=s.below(50, "lq", line), ext=s.u("le", line),
        disc=s.below(11, "ld", line), tax=s.below(9, "lt", line),
        rf=s.pick(["A", "N", "R"], "lr", line), ls=s.pick(["O", "F"], "lx", line),
        ship=s.below(120, "lsd", line)), out + "/lineitem.parquet")
    _copy(con, """SELECT range AS event_id,
        make_timestamp(CAST(1704067200 + {sec} AS BIGINT) * 1000000 + {us}) AS ts,
        {user} AS user_id, {etype} AS event_type, floor({val} * 56021) / 100 AS value,
        '{{"k": ' || {k} || '}}' AS props FROM range({n})""".format(
        sec=s.below(30 * DAY, "et", "range"), us=s.below(1000000, "eu", "range"),
        user=s.below(n(15000), "ew", "range"), etype=s.pick(EVENT_TYPES, "ey", "range"),
        val=s.u("ev", "range"), k=s.below(100, "ek", "range"), n=n(100000)),
        out + "/events.parquet")
    # documents: random word runs, plus near-duplicates of an earlier
    # document with one word replaced, which the dedup key must find
    vocab = "[" + ", ".join("'%s'" % w for w in VOCAB) + "]"
    _copy(con, """
      WITH d AS (
        SELECT range AS doc_id,
          CASE WHEN range > 0 AND {dup} < 0.1 THEN {src} ELSE range END AS base FROM range({n})),
      w AS (SELECT doc_id, base, 10 + {nw} AS nw FROM d),
      t AS (SELECT doc_id, array_to_string(list_transform(range(nw), j ->
               CASE WHEN base <> doc_id AND j = {edit} THEN 'dup'
                    ELSE {vocab}[1 + {word}] END), ' ') AS text FROM w)
      SELECT doc_id, text, {lang} AS lang, 'src' || (doc_id % 20) AS source,
        CAST(length(text) AS BIGINT) AS n_chars FROM t""".format(
        dup=s.u("dp", "range"), src=s.below("range", "ds", "range"), n=n(50000),
        nw=s.below(91, "nw", "base"), edit=s.below("nw", "de", "doc_id"),
        vocab=vocab, word=s.below(len(VOCAB), "w", "base", "j"),
        lang=s.pick(LANGS, "dl", "doc_id")), out + "/documents.parquet")
    return ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
            "events", "documents"]


def generate(workload, seed, out, threads):
    """Write the workload's inputs under `out`; returns its meta.json."""
    os.makedirs(out)
    con = duckdb.connect()
    con.execute("SET threads = %d" % threads)
    con.execute("SET TimeZone = 'UTC'")
    s = Sql(seed)
    if workload == "elt_daily":
        tables = elt(con, s, ELT, out)
        meta = dict(sizes=ELT, day_zero=DAY_ZERO, days=ELT["days"])
    else:
        tables = star(con, s, STAR_SCALE, out)
        meta = dict(scale=STAR_SCALE)
    meta.update(seed=seed, rows={}, bytes={})
    for t in tables:
        path = "%s/%s.parquet" % (out, t)
        meta["rows"][t] = con.sql("SELECT count(*) FROM read_parquet('%s')"
                                  % (path + "/**/*.parquet" if os.path.isdir(path) else path)
                                  ).fetchone()[0]
        meta["bytes"][t] = _size(path)
    con.close()
    # written last and renamed into place: its presence marks the
    # inputs complete
    with open(out + "/meta.json.tmp", "w") as f:
        json.dump(meta, f)
    os.replace(out + "/meta.json.tmp", out + "/meta.json")
    return meta
