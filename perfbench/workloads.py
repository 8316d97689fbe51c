"""The benchmark's four workloads as seeded op lists.

Each workload function takes a numpy Generator and returns
{"warmup": [op], "passes": [[op]]}. An op is what the harness runs:
  id      stable name; equal ids must give equal results
  kind    dialect (Parser.parse + EngineSession.executeStmt),
          sql (Engine.sql) or entry (SparkEntry.queries)
  cls     read | write | ddl
  text    statement text, or the SparkEntry key
  check   (dialect_dml) untimed statement run after the op
  indexed read served by a dialect index
  joins   number of relations joined (reorder_frac counts >= 3)
  dir     input directory other than the run's (warm-up on small inputs)
and, for run.py only, how to check its output:
  twin    DuckDB SQL giving the same rows
  ordered rows must match in order
  rows    (dialect_dml writes) the rows the write adds
"""
from gen import PTYPES, SEGMENTS, date_str


def _dlit(day):
    return f"d'{date_str(day)} 00:00:00'", f"TIMESTAMP '{date_str(day)} 00:00:00'"


def _year_start(y):
    return (y - 1995) * 365 + (y - 1993) // 4


# ---------------------------------------------------------------- tpch_dialect

def _tpch_pass(rng, p):
    ops = []

    def add(name, dialect, twin, joins=1, ordered=False):
        ops.append({"id": f"{name}.{p}", "kind": "dialect", "cls": "read",
                    "text": dialect, "twin": twin, "joins": joins,
                    "ordered": ordered})

    d, t = _dlit(int(rng.integers(1600, 2300)))
    add("q1", f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
  SUM(l_extendedprice) AS sum_base_price,
  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
  AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price,
  AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= {d}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus;""",
        f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity),
  SUM(l_extendedprice), SUM(l_extendedprice * (1 - l_discount)),
  SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
  AVG(l_quantity), AVG(l_extendedprice), AVG(l_discount), COUNT(*)
FROM lineitem WHERE l_shipdate <= {t}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
        ordered=True)

    seg = SEGMENTS[int(rng.integers(0, 5))]
    d, t = _dlit(int(rng.integers(400, 1800)))
    add("q3", f"""SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
  o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = "{seg}" AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < {d} AND l_shipdate > {d}
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10;""",
        f"""SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
  o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < {t} AND l_shipdate > {t}
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""", joins=3)

    y = int(rng.integers(1995, 2001))
    disc = int(rng.integers(2, 9))
    qty = int(rng.integers(20, 30))
    (d0, t0), (d1, t1) = _dlit(_year_start(y)), _dlit(_year_start(y + 1))
    where = (f"l_shipdate >= {{0}} AND l_shipdate < {{1}} AND l_discount >= "
             f"{(disc - 1) / 100:.2f} AND l_discount <= {(disc + 1) / 100:.2f} "
             f"AND l_quantity < {qty}")
    add("q6", f"SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem "
              f"WHERE {where.format(d0, d1)};",
        f"SELECT SUM(l_extendedprice * l_discount) FROM lineitem "
        f"WHERE {where.format(t0, t1)}")

    f1, f2 = [("R", "A"), ("N", "R"), ("A", "N")][int(rng.integers(0, 3))]
    y = int(rng.integers(1995, 2001))
    (d0, t0), (d1, t1) = _dlit(_year_start(y)), _dlit(_year_start(y + 1))
    q12 = """SELECT o_orderpriority, COUNT(*) AS n FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND (l_returnflag = {q}{a}{q} OR l_returnflag = {q}{b}{q})
  AND l_shipdate >= {lo} AND l_shipdate < {hi}
GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    add("q12", q12.format(q='"', a=f1, b=f2, lo=d0, hi=d1) + ";",
        q12.format(q="'", a=f1, b=f2, lo=t0, hi=t1), joins=2, ordered=True)

    m0 = int(rng.integers(0, 78))
    y, m = 1995 + m0 // 12, m0 % 12 + 1
    lo, hi = f"{y}-{m:02d}-01", f"{y + (m == 12)}-{m % 12 + 1:02d}-01"
    q14 = """SELECT SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
FROM lineitem, part WHERE l_partkey = p_partkey AND p_type LIKE {q}PROMO%{q}
  AND l_shipdate >= {p}{lo} 00:00:00' AND l_shipdate < {p}{hi} 00:00:00'"""
    add("q14", q14.format(q='"', p="d'", lo=lo, hi=hi) + ";",
        q14.format(q="'", p="TIMESTAMP '", lo=lo, hi=hi), joins=2)

    mod, having = int(rng.integers(5, 12)), int(rng.integers(5, 40))
    add("groupby_alias", f"""SELECT bucket, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM lineitem WHERE l_quantity < (SELECT AVG(l_quantity) FROM lineitem)
GROUP BY l_orderkey % {mod} AS bucket HAVING COUNT(*) > {having}
ORDER BY bucket;""",
        f"""SELECT l_orderkey % {mod} AS bucket, COUNT(*), SUM(l_quantity)
FROM lineitem WHERE l_quantity < (SELECT AVG(l_quantity) FROM lineitem)
GROUP BY l_orderkey % {mod} HAVING COUNT(*) > {having} ORDER BY bucket""",
        ordered=True)

    f = [1.25, 1.5, 1.75][int(rng.integers(0, 3))]
    corr = """SELECT COUNT(*) AS n, SUM(l_orderkey) AS s FROM lineitem AS l1
WHERE l_quantity > {f} * (SELECT AVG(l2.l_quantity) FROM lineitem AS l2
                          WHERE l2.l_partkey = l1.l_partkey)"""
    add("correlated", corr.format(f=f) + ";", corr.format(f=f))

    seg = SEGMENTS[int(rng.integers(0, 5))]
    a = int(rng.integers(0, 2000))
    (d0, t0), (d1, t1) = _dlit(a), _dlit(a + int(rng.integers(60, 400)))
    j4 = """SELECT n_name, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM nation, customer, orders, lineitem
WHERE n_nationkey = c_nationkey AND c_custkey = o_custkey AND o_orderkey = l_orderkey
  AND c_mktsegment = {q}{seg}{q} AND o_orderdate >= {lo} AND o_orderdate < {hi}
GROUP BY n_name ORDER BY n_name"""
    add("join4", j4.format(q='"', seg=seg, lo=d0, hi=d1) + ";",
        j4.format(q="'", seg=seg, lo=t0, hi=t1), joins=4, ordered=True)

    pt = PTYPES[int(rng.integers(0, len(PTYPES)))]
    a = int(rng.integers(0, 2200))
    (d0, t0), (d1, t1) = _dlit(a), _dlit(a + int(rng.integers(30, 200)))
    j5 = """SELECT r_name, COUNT(*) AS n, SUM(l_extendedprice * (1 - l_discount)) AS rev
FROM region, nation, supplier, lineitem, part
WHERE r_regionkey = n_regionkey AND n_nationkey = s_nationkey
  AND s_suppkey = l_suppkey AND l_partkey = p_partkey
  AND p_type = {q}{pt}{q} AND l_shipdate >= {lo} AND l_shipdate < {hi}
GROUP BY r_name ORDER BY r_name"""
    add("join5", j5.format(q='"', pt=pt, lo=d0, hi=d1) + ";",
        j5.format(q="'", pt=pt, lo=t0, hi=t1), joins=5, ordered=True)

    return ops


def tpch_dialect(rng, n_passes=6):
    passes = [_tpch_pass(rng, p) for p in range(n_passes)]
    warm = [dict(o, id="warm." + o["id"]) for o in passes[0]
            if o["id"].split(".")[0] in ("q6", "q12")]
    return {"warmup": warm, "passes": passes}


# ---------------------------------------------------------------- join_order

# (table, alias prefix, key columns) and the N:1 foreign keys between them
TABLES = {
    "lineitem": ("l", ["l_orderkey", "l_linenumber"]),
    "orders": ("o", ["o_orderkey"]),
    "customer": ("c", ["c_custkey"]),
    "supplier": ("s", ["s_suppkey"]),
    "part": ("p", ["p_partkey"]),
    "nation": ("n", ["n_nationkey"]),
    "region": ("r", ["r_regionkey"]),
}
FKS = {
    "lineitem": [("l_orderkey", "orders"), ("l_partkey", "part"),
                 ("l_suppkey", "supplier")],
    "orders": [("o_custkey", "customer")],
    "customer": [("c_nationkey", "nation")],
    "supplier": [("s_nationkey", "nation")],
    "nation": [("n_regionkey", "region")],
    "part": [], "region": [],
}


def _filter(rng, table, a):
    if rng.random() > 0.35:
        return None
    if table == "lineitem":
        return f"{a}.l_quantity < {int(rng.integers(10, 50))}"
    if table == "orders":
        return f"{a}.o_orderdate < TIMESTAMP '{date_str(int(rng.integers(300, 2400)))} 00:00:00'"
    if table == "customer":
        return f"{a}.c_mktsegment <> '{SEGMENTS[int(rng.integers(0, 5))]}'"
    if table == "supplier":
        return f"{a}.s_acctbal > {int(rng.integers(-999, 8000))}"
    if table == "part":
        return f"{a}.p_size <= {int(rng.integers(5, 50))}"
    if table == "nation":
        return f"{a}.n_nationkey < {int(rng.integers(5, 25))}"
    return f"{a}.r_regionkey <> {int(rng.integers(0, 5))}"


def _graph(rng, shape, n):
    """Relations [(table, alias)] and equi-join predicates of one graph.
    Every edge is N:1 (a foreign key or a 1:1 self-join on the key), so the
    result has at most as many rows as the root lineitem alias."""
    rels, preds, count = [], [], {}

    def add(table):
        count[table] = count.get(table, 0) + 1
        alias = f"{TABLES[table][0]}{count[table]}"
        rels.append((table, alias))
        return alias

    def self_join(table, a, b):
        for k in TABLES[table][1]:
            preds.append(f"{a}.{k} = {b}.{k}")

    root = add("lineitem")
    if shape == "chain":
        path = ["lineitem", "orders", "customer", "nation", "region"] \
            if rng.random() < 0.6 else ["lineitem", "supplier", "nation", "region"]
        per = [1] * len(path)
        for _ in range(n - len(path)):
            per[int(rng.integers(0, len(path)))] += 1
        prev, prev_t = root, "lineitem"
        for level, (table, k) in enumerate(zip(path, per)):
            for _ in range(k - (level == 0)):
                a = add(table)
                if table == prev_t:
                    self_join(table, prev, a)
                else:
                    fk = next(c for c, t in FKS[prev_t] if t == table)
                    pk = TABLES[table][1][0]
                    preds.append(f"{prev}.{fk} = {a}.{pk}")
                prev, prev_t = a, table
    else:
        # star: every arm hangs off the root; snowflake: off any relation
        nodes = [(root, "lineitem")]
        while len(rels) < n:
            src, st = nodes[0] if shape == "star" else \
                nodes[int(rng.integers(0, len(nodes)))]
            options = FKS[st] + ([("=", st)] if shape == "star" else [])
            if not options:
                continue
            fk, table = options[int(rng.integers(0, len(options)))]
            a = add(table)
            if fk == "=":
                self_join(table, src, a)
            else:
                preds.append(f"{src}.{fk} = {a}.{TABLES[table][1][0]}")
            nodes.append((a, table))
    for table, a in rels:
        f = _filter(rng, table, a)
        if f:
            preds.append(f)
    order = rng.permutation(len(rels))
    return [rels[i] for i in order], preds


def join_order(rng, n_passes=6):
    # star, chain and snowflake graphs in turn; per pass five at 12
    # relations and one at 10-11 (DPsize), and one at 13-14 (GOO). Most
    # ops share one size, so the median op is a 12-relation plan.
    shapes = ["star", "chain", "snowflake"]
    passes = []
    for p in range(n_passes):
        ops = []
        sizes = [12, 12, 12, 12, 12, 10 + p % 2, 13 + p % 2]
        for i, n in enumerate(sizes):
            shape = shapes[(i + p) % 3]
            rels, preds = _graph(rng, shape, n)
            text = ("SELECT COUNT(*) AS n, SUM(l1.l_quantity) AS qty FROM "
                    + ", ".join(f"{t} {a}" for t, a in rels)
                    + " WHERE " + " AND ".join(preds))
            ops.append({"id": f"{shape}{n}.{p}.{i}", "kind": "sql",
                        "cls": "read", "text": text, "twin": text,
                        "joins": n})
        passes.append(ops)
    warm = [dict(passes[0][5], id="warm")]  # a 10-relation graph
    return {"warmup": warm, "passes": passes}


# ---------------------------------------------------------------- pipeline_10x

PIPELINE_OPS = ["dedup_containment", "dedup_minhash_lsh", "dedup_cluster_lsh",
                "sim_knn_graph", "search_tfidf_topk", "events_sessionize",
                "embed_quantize_int8", "text_bpe_pairs"]


def pipeline(rng, small_dir):
    """One pass of the eight operators over the fixed corpus, always in
    the same order: a run makes a single pass, and a seed-drawn order
    moved its median op by up to a fifth, because whichever operator runs
    first pays code generation and JIT for the code it shares with the
    others. The warm-up runs one operator on the small inputs in
    `small_dir`."""
    del rng  # nothing to draw: inputs and order are fixed
    ops = [{"id": n, "kind": "entry", "cls": "read", "text": n}
           for n in PIPELINE_OPS]
    warm = [{"id": "warm", "kind": "entry", "cls": "read",
             "text": "embed_quantize_int8", "dir": small_dir}]
    return {"warmup": warm, "passes": [ops]}


# ---------------------------------------------------------------- dialect_dml

DML_DDL = """DROP TABLE IF EXISTS t;
CREATE TABLE t (k INT(4) NOT NULL, g INT(4) NOT NULL, v DOUBLE NOT NULL);
CREATE INDEX t_k ON t USING array (k);
CREATE INDEX t_g ON t USING rmi (g);"""
DML_CHECK = "SELECT COUNT(*) AS n, SUM(k) AS sk FROM t;"
GROUPS = 50


def dialect_dml(rng, csv_path, n_passes=4, writes=16, batch=100):
    """Each pass recreates table t with an array index on k and an rmi
    index on g, then runs `writes` writes (INSERT batches, one IMPORT DSV),
    each followed by a read: in turn an indexed point read, an indexed
    range read on k, one on g, and a GROUP BY over the growing table. Keys are unique within a pass.
    Returns the spec and, per pass, the rows of its IMPORT, which run.py
    writes to csv_path(pass)."""
    passes, imports = [], []
    for p in range(n_passes):
        keys = rng.permutation(10 * writes * batch)[: writes * batch]
        imp_at = int(rng.integers(2, writes))
        ops = [{"id": f"ddl.{p}", "kind": "dialect", "cls": "ddl",
                "text": DML_DDL}]
        live = []
        for w in range(writes):
            ks = keys[w * batch:(w + 1) * batch]
            rows = [(int(k), int(k) % GROUPS, round(float(rng.uniform(0, 100)), 2))
                    for k in ks]
            live.extend(rows)
            if w == imp_at:
                imports.append(rows)
                ops.append({"id": f"import.{p}.{w}", "kind": "dialect",
                            "cls": "write", "check": DML_CHECK, "rows": rows,
                            "text": f'IMPORT INTO t DSV "{csv_path(p)}";'})
            else:
                vals = ", ".join(f"({k}, {g}, {v})" for k, g, v in rows)
                ops.append({"id": f"insert.{p}.{w}", "kind": "dialect",
                            "cls": "write", "check": DML_CHECK, "rows": rows,
                            "text": f"INSERT INTO t VALUES {vals};"})
            pk = live[int(rng.integers(0, len(live)))][0]
            lo = int(rng.integers(0, 10 * writes * batch))
            hi = lo + int(rng.integers(50, 2000))
            g0 = int(rng.integers(0, GROUPS - 5))
            reads = [
                ("point", f"SELECT k, g, v FROM t WHERE k = {pk}", True),
                ("range", f"SELECT COUNT(*) AS n, SUM(v) AS sv FROM t "
                          f"WHERE k >= {lo} AND k <= {hi}", True),
                ("grange", f"SELECT COUNT(*) AS n, SUM(k) AS sk FROM t "
                           f"WHERE g >= {g0} AND g <= {g0 + 4}", True),
                ("groupby", "SELECT g, COUNT(*) AS n, SUM(k) AS sk FROM t "
                            "GROUP BY g ORDER BY g", False),
            ]
            name, sql, indexed = reads[w % 4]
            ops.append({"id": f"{name}.{p}.{w}", "kind": "dialect",
                        "cls": "read", "text": sql + ";", "twin": sql,
                        "indexed": indexed, "ordered": name == "groupby"})
        passes.append(ops)
    warm = [{"id": "warm.ddl", "kind": "dialect", "cls": "ddl",
             "text": DML_DDL.replace(" t ", " w ").replace(" t;", " w;")
                            .replace("t_k", "w_k").replace("t_g", "w_g")},
            {"id": "warm.insert", "kind": "dialect", "cls": "write",
             "text": "INSERT INTO w VALUES (1, 1, 1.5), (2, 2, 2.5);"},
            {"id": "warm.read", "kind": "dialect", "cls": "read",
             "text": "SELECT COUNT(*) AS n FROM w WHERE k >= 1 AND k <= 2;"}]
    return {"warmup": warm, "passes": passes}, imports
