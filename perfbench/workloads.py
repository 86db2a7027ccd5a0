"""The benchmark's workloads: which statements each runs, in what order.

Every workload is a fixed set of statements. The seed only orders them
(a fresh permutation for every pass) and, for `hiveql_session`, chooses
the rows and predicates of its script. So every run of a workload does
the same work, whatever its seed, and its figures stay comparable.

The query sets are fixed subsets of `SparkEntry.queries`: a full pass
over all 100 queries takes about 70 s on 4 cores, too long for a run.
"""
import random

# Relational queries, one per family: aggregation, join, window, set op,
# subquery, CTE, type system, generator. Cost goes to per-query planning
# and per-job scheduling, not compute. About 3 s a pass.
OLAP = [
    "q_agg_rollup", "q_join_inner", "q_window_running", "q_setop_intersect",
    "q_subquery_corr", "q_cte", "q_char_varchar", "q_lateral_explode",
]

# Dedup, similarity, text and multimodal queries over documents and
# embeddings. q_sim_ivf runs its IVF Lloyd iterations as Spark jobs while
# its DataFrame is built, and dominates the pass (about 3 s).
LLM = [
    "q_sim_ivf", "q_dedup_exact", "q_text_tokens", "q_sim_topk",
    "q_multimodal",
]

# Both run with one closed-loop client. `pass_s` is a timed pass's wall
# time on a 4-core box: a run measures round(seconds / pass_s) passes, so
# every run of a workload does the same work.
WORKLOADS = {
    "query_mix": {"queries": OLAP + LLM, "pass_s": 6.0},
    "hiveql_session": {"queries": None, "pass_s": 4.0},
}


def timed_passes(workload, seconds, trace):
    """Timed passes for a run: a traced run alternates untraced and
    traced passes, so it needs two at least."""
    n = max(1, round(seconds / WORKLOADS[workload]["pass_s"]))
    return max(n, 2) if trace else n


def query_statements(names):
    return [{"id": n, "kind": "query", "text": n, "check": True}
            for n in names]


def hive_script(seed):
    """A seeded HiveQL session and its DuckDB equivalent.

    Returns (statements, final_tables, cleanup). Each statement has the
    HiveQL text (`{db}` stands for the pass's database), its kind, and
    `duck`: standard SQL that DuckDB runs at the same point of the
    script, on tables of the same names, to give the expected result.
    Write statements name their `target` table.
    """
    # the seed picks which rows and values; every choice below keeps the
    # row counts (and so the work) of each statement the same
    rng = random.Random(seed)
    regions = rng.sample(["north", "south", "east", "west", "central"], 3)
    mod = 50
    slices = rng.sample(range(mod), len(regions))
    out = []

    def add(kind, hive, duck, check=False, target=None):
        out.append({"kind": kind, "hive": hive, "duck": duck,
                    "check": check, "target": target})

    add("ddl", "CREATE DATABASE IF NOT EXISTS {db}", [])
    add("ddl", "USE {db}", [])
    add("ddl", "CREATE TABLE sales (id BIGINT, cust BIGINT, amount DOUBLE, "
        "prio STRING) PARTITIONED BY (region STRING) STORED AS PARQUET",
        ["CREATE TABLE sales (id BIGINT, cust BIGINT, amount DOUBLE, "
         "prio VARCHAR, region VARCHAR)"])
    add("ddl", "CREATE TABLE accounts (acct BIGINT, name STRING, "
        "balance DOUBLE) STORED AS PARQUET",
        ["CREATE TABLE accounts (acct BIGINT, name VARCHAR, "
         "balance DOUBLE)"])
    r = rng.randrange(10)
    add("insert", "INSERT INTO TABLE accounts SELECT c_custkey, c_name, "
        f"c_acctbal FROM customer WHERE c_custkey % 10 = {r}",
        ["INSERT INTO accounts SELECT c_custkey, c_name, c_acctbal "
         f"FROM customer WHERE c_custkey % 10 = {r}"], target="accounts")
    for k, reg in zip(slices, regions):
        add("insert", f"INSERT INTO TABLE sales PARTITION (region='{reg}') "
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
            f"FROM orders WHERE o_orderkey % {mod} = {k}",
            ["INSERT INTO sales SELECT o_orderkey, o_custkey, o_totalprice, "
             f"o_orderpriority, '{reg}' FROM orders "
             f"WHERE o_orderkey % {mod} = {k}"], target="sales")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    next_id = 10_000_000
    for _ in range(2):
        rows = []
        for _ in range(25):
            rows.append((next_id, rng.randrange(15000),
                         rng.randrange(100_000, 50_000_000) / 100,
                         rng.choice(prios)))
            next_id += 1
        vals = ", ".join(f"({i}, {c}, {a!r}, '{p}')" for i, c, a, p in rows)
        add("insert", "INSERT INTO TABLE sales PARTITION (region='direct') "
            f"VALUES {vals}",
            ["INSERT INTO sales VALUES " + ", ".join(
                f"({i}, {c}, {a!r}, '{p}', 'direct')"
                for i, c, a, p in rows)], target="sales")
    add("select", "SELECT region, count(*) AS n, sum(amount) AS total "
        "FROM sales GROUP BY region ORDER BY region",
        ["SELECT region, count(*) AS n, sum(amount) AS total "
         "FROM sales GROUP BY region ORDER BY region"], check=True)
    # writes in a seeded order: each touches the tables independently
    m2, k2, bump = 11, rng.randrange(9), rng.randrange(1, 500)
    cut = rng.randrange(9_000, 11_000)
    r2, inc = rng.randrange(20), rng.randrange(1, 1000)
    writes = [
        ("update", f"UPDATE sales SET amount = amount + {bump} "
         f"WHERE cust % {m2} = {k2}",
         [f"UPDATE sales SET amount = amount + {bump} "
          f"WHERE cust % {m2} = {k2}"], "sales"),
        ("delete", f"DELETE FROM sales WHERE amount < {cut}",
         [f"DELETE FROM sales WHERE amount < {cut}"], "sales"),
        ("delete", f"DELETE FROM sales WHERE region = '{regions[0]}' "
         f"AND cust % 9 = {k2}",
         [f"DELETE FROM sales WHERE region = '{regions[0]}' "
          f"AND cust % 9 = {k2}"], "sales"),
        ("merge", "MERGE INTO accounts t USING (SELECT c_custkey AS acct, "
         f"c_name AS name, c_acctbal + {inc} AS balance FROM customer "
         f"WHERE c_custkey % 20 = {r2}) s ON t.acct = s.acct "
         "WHEN MATCHED THEN UPDATE SET balance = s.balance "
         "WHEN NOT MATCHED THEN INSERT VALUES (s.acct, s.name, s.balance)",
         ["UPDATE accounts SET balance = s.balance FROM (SELECT c_custkey "
          f"AS acct, c_acctbal + {inc} AS balance FROM customer "
          f"WHERE c_custkey % 20 = {r2}) s WHERE accounts.acct = s.acct",
          "INSERT INTO accounts SELECT c_custkey, c_name, "
          f"c_acctbal + {inc} FROM customer WHERE c_custkey % 20 = {r2} "
          "AND c_custkey NOT IN (SELECT acct FROM accounts)"], "accounts"),
    ]
    rng.shuffle(writes)
    for kind, hive, duck, target in writes:
        add(kind, hive, duck, target=target)
    reads = [
        ("meta_read", "SHOW PARTITIONS sales",
         ["SELECT DISTINCT 'region=' || region AS partition FROM sales"],
         True),
        ("meta_read", "DESCRIBE FORMATTED sales", [], False),
        ("select", "SELECT s.region, count(DISTINCT s.cust) AS custs, "
         "avg(a.balance) AS avg_bal FROM sales s JOIN accounts a "
         "ON (s.cust = a.acct) WHERE s.prio IN ('1-URGENT', '2-HIGH') "
         "GROUP BY s.region ORDER BY s.region",
         ["SELECT s.region, count(DISTINCT s.cust) AS custs, "
          "avg(a.balance) AS avg_bal FROM sales s JOIN accounts a "
          "ON (s.cust = a.acct) WHERE s.prio IN ('1-URGENT', '2-HIGH') "
          "GROUP BY s.region ORDER BY s.region"], True),
        ("select", "SELECT prio, count(*) AS n, max(amount) AS top "
         f"FROM sales WHERE region = '{rng.choice(regions)}' "
         "GROUP BY prio ORDER BY prio", None, True),
        ("select", "SELECT id, nvl(prio, 'none') AS prio, "
         "CAST(floor(amount) AS BIGINT) AS amt FROM sales "
         "WHERE region = 'direct' ORDER BY id LIMIT 10",
         ["SELECT id, coalesce(prio, 'none') AS prio, "
          "CAST(floor(amount) AS BIGINT) AS amt FROM sales "
          "WHERE region = 'direct' ORDER BY id LIMIT 10"], True),
        ("select", "SELECT a.name, a.balance FROM accounts a "
         "WHERE a.balance > 9000 SORT BY a.balance DESC LIMIT 20", None,
         False),
    ]
    rng.shuffle(reads)
    for kind, hive, duck, check in reads:
        if duck is None:  # standard SQL as written, or no reference
            duck = [hive] if check else []
        add(kind, hive, duck, check=check)
    for i, s in enumerate(out):
        s["id"] = f"h{i:02d}_{s['kind']}"
    cleanup = ["USE default", "DROP TABLE IF EXISTS {db}.sales",
               "DROP TABLE IF EXISTS {db}.accounts"]
    return out, ["sales", "accounts"], cleanup


def plan(workload, seed, passes=40):
    """Statements, per-pass orders (check pass first), final tables and
    cleanup for a run of up to `passes` passes."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    if spec["queries"] is None:
        script, final_tables, cleanup = hive_script(seed)
        stmts = [{"id": s["id"], "kind": s["kind"], "text": s["hive"],
                  "check": s["check"]} for s in script]
        orders = [list(range(len(stmts)))] * passes
        return stmts, orders, final_tables, cleanup, script
    stmts = query_statements(spec["queries"])
    orders = []
    for _ in range(passes):
        order = list(range(len(stmts)))
        rng.shuffle(order)
        orders.append(order)
    return stmts, orders, [], [], None
