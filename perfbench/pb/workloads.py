"""Operation streams of the workloads, drawn from the seed.

An op is a dict: id, cls (meta | lookup | analytic | export), label (the
statement or template name failures are listed under), method, tool,
args, and check: ("oracle", sql) compares with DuckDB, ("digest", key)
compares the reply's shape with the one recorded for `key` during the
untimed warm-up pass, ("export", None) checks the capped shape against
the table's row count.

Every pass of a workload has the same multiset of templates; the seed
draws literals and order. So runs with different seeds do the same kind
and amount of work, and statement texts stay distinct while plan shapes
repeat.
"""
import random

from .build import TABLES

TINY_TABLES = ["customer", "nation", "orders", "region"]
EXPLAIN_FORMATS = ["", "LOGICAL", "DISTRIBUTED", "VALIDATE", "IO"]
EXPORTS = ["lineitem", "orders"]  # both larger than the result cap
ROW_CAP = 10000  # the server's default GRAFT_MAX_RESULT_ROWS

# MATCH_RECOGNIZE clauses of the engine's mr_* queries, written as served
# SQL over the registered views. Output columns and order match each
# query's DuckDB oracle.
_DVAL_EVENTS = "(SELECT *, CAST(value AS DECIMAL(18,4)) AS dval FROM events)"
_FUNNEL = """PATTERN (A B+)
  DEFINE A AS event_type = 'view', B AS event_type = 'click')"""
_EVENT_COLS = "event_id, ts, user_id, event_type, value, props"
MR_SQL = {
    "mr_funnel": """SELECT user_id, start_ts, end_ts, n_clicks
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.ts) AS start_ts, LAST(B.ts) AS end_ts, COUNT(B.*) AS n_clicks
  PATTERN (A B+)
  DEFINE A AS event_type = 'view', B AS event_type = 'click')
ORDER BY user_id, start_ts""",
    "mr_cross_pair": """SELECT user_id, a_eid, a_ts, a_val, b_val
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
           FIRST(A.value) AS a_val, LAST(B.value) AS b_val
  PATTERN (A B)
  DEFINE A AS event_type = 'view',
         B AS event_type = 'click' AND B.value > A.value)
ORDER BY user_id, a_eid""",
    "mr_vshape": """SELECT user_id, a_eid, a_ts, start_val, bottom_val, top_val, len
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
           A.value AS start_val, LAST(B.value) AS bottom_val,
           LAST(C.value) AS top_val, COUNT(*) AS len
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A B+ C+)
  DEFINE B AS value < PREV(value),
         C AS value > PREV(value) AND value <= A.value)
ORDER BY user_id, a_eid""",
    "mr_pack_runs": """SELECT user_id, a_eid, a_ts, n, CAST(total AS DOUBLE) AS total
FROM (SELECT *, CAST(value AS DECIMAL(18,4)) AS dval FROM events) MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
           COUNT(*) AS n, SUM(A.dval) AS total
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (A+)
  DEFINE A AS SUM(A.dval) <= 25)
ORDER BY user_id, a_eid""",
    "mr_funnel_delta": """SELECT user_id, start_ts, delta, per_click, odd_clicks, improved
FROM (SELECT *, CAST(value AS DECIMAL(18,4)) AS dval FROM events) MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.ts) AS start_ts,
           LAST(B.value) - FIRST(A.value) AS delta,
           SUM(B.dval) / COUNT(B.*) AS per_click,
           COUNT(B.*) * 2 + 1 AS odd_clicks,
           LAST(B.value) > FIRST(A.value) AS improved
  PATTERN (A B+)
  DEFINE A AS event_type = 'view', B AS event_type = 'click')
ORDER BY user_id, start_ts""",
    "mr_empty_show": """SELECT user_id, b_start, n_b, mn
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(B.ts) AS b_start, COUNT(B.*) AS n_b, MATCH_NUMBER() AS mn
  PATTERN (B*)
  DEFINE B AS event_type = 'click')
ORDER BY user_id, mn""",
    "mr_run_context": """SELECT user_id, a_eid, a_ts, before_val, top_val, after_val, n_up
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.event_id) AS a_eid, FIRST(A.ts) AS a_ts,
           PREV(FIRST(A.value)) AS before_val,
           LAST(B.value) AS top_val,
           NEXT(LAST(B.value)) AS after_val,
           COUNT(B.*) AS n_up
  PATTERN (A B+)
  DEFINE B AS value > PREV(value))
ORDER BY user_id, a_eid""",
    "mr_order_revenue": """SELECT l_orderkey, n_lines, CAST(revenue AS DOUBLE) AS revenue,
  CAST(last_net AS DOUBLE) AS last_net, CAST(prev_mix AS DOUBLE) AS prev_mix
FROM (SELECT *, CAST(l_extendedprice AS DECIMAL(18,4)) AS eprice,
        CAST(l_discount AS DECIMAL(18,4)) AS disc FROM lineitem) MATCH_RECOGNIZE (
  PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
  MEASURES COUNT(*) AS n_lines,
           SUM(A.eprice * (1 - A.disc)) AS revenue,
           LAST(A.eprice * (1 - A.disc)) AS last_net,
           PREV(eprice + disc) AS prev_mix
  PATTERN (A+)
  DEFINE A AS l_quantity > 0)
ORDER BY l_orderkey""",
    "mr_funnel_agg": f"""SELECT user_id, start_ts, n_clicks, CAST(sum_val AS DOUBLE) AS sum_val,
  avg_val, min_val, max_val
FROM {_DVAL_EVENTS} MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(A.ts) AS start_ts, COUNT(B.*) AS n_clicks,
           SUM(B.dval) AS sum_val, AVG(B.dval) AS avg_val,
           MIN(B.value) AS min_val, MAX(B.value) AS max_val
  {_FUNNEL}
ORDER BY user_id, start_ts""",
    "mr_funnel_runsum": f"""SELECT {_EVENT_COLS}, cls, CAST(run_sum AS DOUBLE) AS run_sum, run_max, mn
FROM {_DVAL_EVENTS} MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES CLASSIFIER() AS cls, SUM(B.dval) AS run_sum,
           MAX(B.value) AS run_max, MATCH_NUMBER() AS mn
  ALL ROWS PER MATCH
  {_FUNNEL}
ORDER BY user_id, ts, event_id""",
    "mr_funnel_subset": f"""SELECT user_id, u_start, u_end, u_n, u_min
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES FIRST(U.ts) AS u_start, LAST(U.ts) AS u_end,
           COUNT(U.*) AS u_n, MIN(U.value) AS u_min
  PATTERN (A B+)
  SUBSET U = (A, B)
  DEFINE A AS event_type = 'view', B AS event_type = 'click')
ORDER BY user_id, u_start""",
    "mr_funnel_excl": f"""SELECT {_EVENT_COLS}, cls, n_clicks, CAST(sum_val AS DOUBLE) AS sum_val
FROM {_DVAL_EVENTS} MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES CLASSIFIER() AS cls, FINAL COUNT(B.*) AS n_clicks,
           FINAL SUM(B.dval) AS sum_val
  ALL ROWS PER MATCH
  PATTERN (A {{- B+ -}})
  DEFINE A AS event_type = 'view', B AS event_type = 'click')
ORDER BY user_id, ts, event_id""",
    "mr_funnel_unmatched": f"""SELECT {_EVENT_COLS}, cls, mn
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn
  ALL ROWS PER MATCH WITH UNMATCHED ROWS
  {_FUNNEL}
ORDER BY user_id, ts, event_id""",
    "mr_funnel_rows_final": f"""SELECT {_EVENT_COLS}, cls, CAST(tot_sum AS DOUBLE) AS tot_sum, tot_b, end_ts
FROM {_DVAL_EVENTS} MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES CLASSIFIER() AS cls, FINAL SUM(B.dval) AS tot_sum,
           FINAL COUNT(B.*) AS tot_b, FINAL LAST(B.ts) AS end_ts
  ALL ROWS PER MATCH
  {_FUNNEL}
ORDER BY user_id, ts, event_id""",
    "mr_funnel_rows": f"""SELECT {_EVENT_COLS}, cls, run_n, mn
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts, event_id
  MEASURES CLASSIFIER() AS cls, COUNT(*) AS run_n, MATCH_NUMBER() AS mn
  ALL ROWS PER MATCH
  {_FUNNEL}
ORDER BY user_id, ts, event_id""",
    "mr_run_context_desc": """SELECT user_id, a_eid, before_val, top_val, n_up
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  MEASURES FIRST(A.event_id) AS a_eid,
           PREV(FIRST(A.value)) AS before_val,
           LAST(B.value) AS top_val,
           COUNT(B.*) AS n_up
  PATTERN (A B+)
  DEFINE B AS value > PREV(value))
ORDER BY user_id, a_eid""",
}


def _date(rng):
    return f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


# Lookup templates: name -> (rng, key ranges) -> SQL. Each has a DuckDB
# oracle (the same text) and a total ORDER BY wherever more than one row
# can come back. Key ranges come from the data (oracle.key_ranges).
LOOKUPS = {
    "pk_orders": lambda r, n: f"SELECT * FROM orders WHERE o_orderkey = {r.randrange(n['orders'])}",
    "pk_customer": lambda r, n: (
        f"SELECT * FROM customer WHERE c_custkey = {r.randrange(n['customer'])}"),
    "pk_part": lambda r, n: f"SELECT * FROM part WHERE p_partkey = {r.randrange(n['part'])}",
    "pk_supplier": lambda r, n: (
        f"SELECT * FROM supplier WHERE s_suppkey = {r.randrange(n['supplier'])}"),
    "lines_of_order": lambda r, n: (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice "
        f"FROM lineitem WHERE l_orderkey = {r.randrange(n['orders'])} "
        "ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice"),
    "count_orders": lambda r, n: (
        f"SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = '{r.choice('FOP')}' "
        f"AND o_totalprice > {r.randrange(1000, 500000)}"),
    "count_events": lambda r, n: (
        f"SELECT COUNT(*) AS n FROM events WHERE user_id = {r.randrange(n['events'])} "
        f"AND event_type = '{r.choice(n['event_types'])}'"),
    "group_priority": lambda r, n: (
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
        f"WHERE o_custkey < {r.randrange(100, n['customer'])} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "group_events": lambda r, n: (
        "SELECT event_type, COUNT(*) AS n, MAX(value) AS top FROM events "
        f"WHERE user_id = {r.randrange(n['events'])} GROUP BY event_type ORDER BY event_type"),
    "preview_customer": lambda r, n: (
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        f"WHERE c_nationkey = {r.randrange(25)} ORDER BY c_custkey LIMIT {r.randint(10, 100)}"),
    "preview_orders": lambda r, n: (
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{_date(r)} 00:00:00' "
        f"ORDER BY o_orderdate, o_orderkey LIMIT {r.randint(10, 100)}"),
    "preview_events": lambda r, n: (
        "SELECT event_id, ts, event_type, value FROM events "
        f"WHERE user_id = {r.randrange(n['events'])} "
        f"ORDER BY ts, event_id LIMIT {r.randint(10, 100)}"),
}
EXPLAINED = ["pk_orders", "count_orders", "group_priority", "preview_customer"]
SHOWS = (["SHOW TABLES", "SHOW SCHEMAS"] + [f"DESCRIBE {t}" for t in TABLES] +
         [f"SHOW COLUMNS FROM {t}" for t in TABLES])


class Ops:
    """Numbers ops; ids are unique within a run."""

    def __init__(self, seed, keys, prefix=""):
        self.rng = random.Random(seed)
        self.keys = keys
        self.prefix = prefix
        self.n = 0

    def op(self, cls, label, tool, args, check):
        self.n += 1
        return {"id": f"{self.prefix}{self.n}", "cls": cls, "label": label, "tool": tool,
                "args": args, "check": check}

    def lookup(self, name):
        sql = LOOKUPS[name](self.rng, self.keys)
        return self.op("lookup", name, "execute_query", {"query": sql}, ("oracle", sql))

    def show(self, sql):
        return self.op("lookup", sql, "execute_query", {"query": sql}, ("digest", sql))

    def schema(self, cat, sch, table):
        args = {"table": table}
        if cat:
            args.update(catalog=cat, schema=sch)
        key = f"get_table_schema {cat}.{sch}.{table}"
        return self.op("meta", key, "get_table_schema", args, ("digest", key))

    def explain(self, name, fmt):
        sql = LOOKUPS[name](self.rng, self.keys)
        args = {"query": sql, "format": fmt} if fmt else {"query": sql}
        key = f"explain_query {fmt or 'default'} {name}"
        return self.op("meta", key, "explain_query", args, ("digest", key))

    def meta(self, tool, args):
        key = f"{tool} {sorted(args.items())}"
        return self.op("meta", key, tool, args, ("digest", key))

    def analytic(self, name, sql, oracle_sql):
        return self.op("analytic", name, "execute_query", {"query": sql}, ("oracle", oracle_sql))

    def export(self, table):
        sql = f"SELECT * FROM {table}"
        return self.op("export", f"export {table}", "execute_query", {"query": sql},
                       ("export", None))

    def shuffled(self, ops):
        self.rng.shuffle(ops)
        return ops


def _meta_fixed(o):
    return [o.meta("tools/list", {}), o.meta("list_catalogs", {}),
            o.meta("list_schemas", {"catalog": "spark_catalog"}),
            o.meta("list_schemas", {"catalog": "tpch"}),
            o.meta("list_tables", {}),
            o.meta("list_tables", {"catalog": "tpch", "schema": "tiny"})]


def _schema_targets():
    return [("", "", t) for t in TABLES] + [("tpch", "tiny", t) for t in TINY_TABLES]


def explore_warmup(o):
    """Every digest key once, plus one op of each lookup template."""
    ops = _meta_fixed(o)
    ops += [o.schema(*t) for t in _schema_targets()]
    ops += [o.explain(n, f) for n in EXPLAINED for f in EXPLAIN_FORMATS]
    ops += [o.show(s) for s in SHOWS]
    ops += [o.lookup(n) for n in LOOKUPS]
    return ops


def explore_pass(o, k):
    """Pass `k` of one agent discovery session: every meta tool, three
    table schemas, two explains, every lookup template three times and
    three SHOW/DESCRIBE statements. Tables, explained templates, formats
    and SHOW statements rotate with `k`, so every pass has the same mix."""
    targets = _schema_targets()
    ops = _meta_fixed(o)
    ops += [o.schema(*targets[(3 * k + i) % len(targets)]) for i in range(3)]
    ops += [o.explain(EXPLAINED[(2 * k + i) % len(EXPLAINED)],
                      EXPLAIN_FORMATS[(2 * k + i) % len(EXPLAIN_FORMATS)]) for i in range(2)]
    ops += [o.lookup(n) for n in LOOKUPS for _ in range(3)]
    ops += [o.show(SHOWS[(3 * k + i) % len(SHOWS)]) for i in range(3)]
    return o.shuffled(ops)


def explore_stream(o):
    k = o.rng.randrange(len(SHOWS))
    while True:
        yield from explore_pass(o, k)
        k += 1


def analytic_statements(statements):
    """(name, served SQL, oracle SQL) of every analytic statement."""
    oracles = statements["mr_oracles"]
    if sorted(oracles) != sorted(MR_SQL):
        raise ValueError("served MATCH_RECOGNIZE text and mr_* oracles differ: "
                         f"{sorted(set(oracles) ^ set(MR_SQL))}")
    out = [(n, q, q) for n, q in sorted(statements["tpch"].items())]
    out += [(n, MR_SQL[n], oracles[n]) for n in sorted(MR_SQL)]
    return out


def mix_share(stmts, client, clients):
    """The analytic statements client `client` cycles through, in a fixed
    order: together the clients' shares cover every statement."""
    return stmts[client::clients]


def mix_stream(o, stmts, client, clients):
    """One served-mix client: passes of two analytic statements (next in
    its share's cycle), two lookups, one meta call, and every second pass
    a capped export, in seed-shuffled order. Lookup templates, meta calls
    and exports rotate, so every client's passes repeat the same mix; the
    meta rotation is offset by client, so concurrent passes cover every
    meta kind. The rotation lists schemas, not the default schema's
    tables: at HEAD such a listing can show another client's transient
    MATCH_RECOGNIZE view (see probe_mr_views.py), and a run must have no
    failing op. agent_explore lists the default schema's tables serially."""
    share = mix_share(stmts, client, clients)
    lookups = list(LOOKUPS)
    targets = _schema_targets()
    k = 0
    while True:
        metas = [lambda: o.meta("list_schemas", {"catalog": "spark_catalog"}),
                 lambda: o.meta("list_tables", {"catalog": "tpch", "schema": "tiny"}),
                 lambda: o.schema(*targets[k % len(targets)]),
                 lambda: o.explain(EXPLAINED[k % len(EXPLAINED)],
                                   EXPLAIN_FORMATS[k % len(EXPLAIN_FORMATS)])]
        ops = [o.analytic(*share[(2 * k + i) % len(share)]) for i in range(2)]
        ops += [o.lookup(lookups[(2 * k + i + client) % len(lookups)]) for i in range(2)]
        ops.append(metas[(k + client) % len(metas)]())
        if k % 2 == client % 2:
            ops.append(o.export(EXPORTS[(k // 2 + client) % len(EXPORTS)]))
        yield from o.shuffled(ops)
        k += 1


def mix_solo_warmup(o):
    """The digest keys the served mix uses, recorded by one client."""
    ops = [o.meta("list_schemas", {"catalog": "spark_catalog"}),
           o.meta("list_tables", {"catalog": "tpch", "schema": "tiny"})]
    ops += [o.schema(*t) for t in _schema_targets()]
    return ops + [o.explain(n, f) for n in EXPLAINED for f in EXPLAIN_FORMATS]


def mix_warmup(o, stmts, client, clients):
    """Every client runs its analytic share once and one export."""
    ops = [o.analytic(*s) for s in mix_share(stmts, client, clients)]
    ops.append(o.export(EXPORTS[client % len(EXPORTS)]))
    return ops
