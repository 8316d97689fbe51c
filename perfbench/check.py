"""Output checks and metric derivation for one benchmark run.

verify() gives one verdict per timed op (None = correct, else the
reason). A result is checked once per distinct fingerprint of its op id;
repetitions with the same fingerprint share that verdict.
  - SQL and dialect queries: the DuckDB twin text of the op;
  - SparkEntry ops: SparkEntry.oracleSql, or for the approximate ones
    their exact twin (dedup_minhash_lsh vs the exact n-gram Jaccard
    oracle, sim_knn_graph vs a numpy brute force);
  - dialect_dml: every read against DuckDB replaying the same writes,
    and the table's row count and key sum after every write.
metrics() turns the run's records into the end-to-end metrics (untraced)
or the per-layer metrics (traced).
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import statistics

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KNN_K = 5  # SimilarityOps.KnnGraphK
GC_FLAG = 0.3


# ------------------------------------------------------------------ compare

def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (float, decimal.Decimal, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return sorted([canon(k), canon(x)] for k, x in v.items())
    if v == "NaN":
        return None
    return v


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def _key(row):
    def k(v):
        if isinstance(v, (int, float)):
            return (0, round(float(v), 3), "")
        if v is None:
            return (1, 0.0, "")
        return (2, 0.0, str(v))
    return tuple(k(v) for v in row)


def same_rows(got, want, ordered):
    """None when equal (floats to 1e-6 relative), else a reason."""
    got = [[canon(v) for v in r] for r in got]
    want = [[canon(v) for v in r] for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if not close(a, b)]
    if bad and not ordered and len(got) <= 5000:
        # rounding can order near-equal floats differently: match greedily
        left = list(want)
        for r in got:
            j = next((j for j, w in enumerate(left) if close(r, w)), None)
            if j is None:
                return f"row {r} not expected"
            left.pop(j)
        return None
    if bad:
        return f"row {bad[0]}: {got[bad[0]]} != {want[bad[0]]}"
    return None


# ------------------------------------------------------------------ verify

def _memo(data_dir, what, fn):
    """Expected results that depend only on the (fixed) input tables are
    computed once per input directory and kept beside it."""
    path = os.path.join(data_dir, "expect-" + hashlib.sha1(what.encode()).hexdigest()
                        + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    val = canon(fn())
    with open(path + ".tmp", "w") as fh:
        json.dump(val, fh)
    os.replace(path + ".tmp", path)
    return val


def _duck(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _by_name(con, data_dir, sql, cols):
    def run():
        cur = con.execute(sql)
        return [[d[0].lower() for d in cur.description], cur.fetchall()]
    names, rows = _memo(data_dir, sql, run)
    want_cols = [c.lower() for c in cols]
    if sorted(names) != sorted(want_cols):
        return None, f"columns {want_cols} vs oracle {names}"
    idx = [names.index(c) for c in want_cols]
    return [[r[i] for i in idx] for r in rows], None


def _pairs(rows, cols):
    a, b = cols.index("doc_a"), cols.index("doc_b")
    return {(int(r[a]), int(r[b])) for r in rows}


def _knn_exact(con):
    """Exact cosine top-k neighbours of 200 evenly spaced sources."""
    emb = con.execute("SELECT vec_id, embedding FROM embeddings "
                      "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in emb])
    m = np.array([r[1] for r in emb], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = []
    for i in range(0, len(ids), max(1, len(ids) // 200))[:200]:
        sims = m @ m[i]
        sims[i] = -np.inf
        out.append([int(ids[i]), [int(ids[j]) for j in np.lexsort((ids, -sims))[:KNN_K]]])
    return out


def _knn_recall(exact, rows, cols):
    """recall@k of the graph's edges against the exact neighbours; the
    op's own recall gate is 0.8."""
    s, n = cols.index("vec_id"), cols.index("neighbor_id")
    got = {}
    for r in rows:
        got.setdefault(int(r[s]), set()).add(int(r[n]))
    hit = sum(len(set(nb) & got.get(q, set())) for q, nb in exact)
    return hit / max(1, sum(len(nb) for _, nb in exact))


def _check_entry(con, data_dir, name, rec, oracles, spoil):
    rows, cols = rec["rows"], rec["cols"]
    if name == "dedup_minhash_lsh":
        sql = f"SELECT doc_a, doc_b FROM ({oracles['dedup_ngram_jaccard']})"
        exact = _memo(data_dir, sql, lambda: con.execute(sql).fetchall())
        got = _pairs(rows, cols)
        want = {(int(a), int(b)) for a, b in exact}
        if got - want:
            return f"{len(got - want)} pairs not in the exact twin"
        recall = len(got & want) / max(1, len(want))
        return None if recall >= 0.8 else f"pair recall {recall:.3f} < 0.8"
    if name == "sim_knn_graph":
        r = _knn_recall(_memo(data_dir, "knn", lambda: _knn_exact(con)), rows, cols)
        return None if r >= 0.8 else f"recall@{KNN_K} {r:.3f} < 0.8"
    if name not in oracles:
        return f"no oracle for {name}"
    want, err = _by_name(con, data_dir, oracles[name], cols)
    return err or same_rows(rows, spoil(want), False)


def _dml_expected(pass_ops):
    """Replays one dialect_dml pass in DuckDB: expected rows per read id
    and expected (count, key sum) after each write id."""
    con = duckdb.connect()
    reads, checks, live = {}, {}, []
    for op in pass_ops:
        if op["cls"] == "ddl":
            con.execute("CREATE OR REPLACE TABLE t (k INTEGER, g INTEGER, v DOUBLE)")
            live = []
        elif op["cls"] == "write":
            con.executemany("INSERT INTO t VALUES (?, ?, ?)", op["rows"])
            live += op["rows"]
            checks[op["id"]] = [[len(live), sum(r[0] for r in live)]]
        else:
            reads[op["id"]] = con.execute(op["twin"]).fetchall()
    return reads, checks


def verify(workload, spec, out, data_dir, corrupt=False):
    """One verdict per timed op: None when correct, else the reason. With
    `corrupt`, the first expected result compared gets an extra row, which
    must show up as a failure."""
    passes = spec["passes"]
    by_id = {op["id"]: op for ps in passes for op in ps}
    con = _duck(data_dir)
    left = [corrupt]

    def spoil(want):
        if not left[0]:
            return want
        left[0] = False
        return list(want) + [list(want[-1]) if want else [0]]

    dml, by_fp, verdicts = {}, {}, []
    for rec in out["ops"]:
        op = by_id[rec["id"]]
        if not rec["ok"]:
            verdicts.append(f"{op['id']}: {rec.get('err')}")
            continue
        reason = None
        if workload == "dialect_dml":
            q = rec["pass"] % len(passes)
            if q not in dml:
                dml[q] = _dml_expected(passes[q])
            if op["cls"] == "write":
                reason = same_rows(rec["check"], spoil(dml[q][1][op["id"]]), True) \
                    if "check" in rec else f"check failed: {rec.get('check_err')}"
        if reason is None and "fp" in rec:
            fp = (rec["id"], rec["fp"])
            if "rows" in rec:
                if op["kind"] == "entry":
                    by_fp[fp] = _check_entry(con, data_dir, op["text"], rec,
                                             out["oracles"], spoil)
                else:
                    want = dml[q][0][op["id"]] if workload == "dialect_dml" \
                        else con.execute(op["twin"]).fetchall()
                    by_fp[fp] = same_rows(rec["rows"], spoil(want),
                                          op.get("ordered", False))
            reason = by_fp.get(fp, "result was never checked")
        elif reason is None and op["cls"] == "read":
            reason = "read returned no result"
        verdicts.append(f"{op['id']}: {reason}" if reason else None)
    return verdicts


# ------------------------------------------------------------------ metrics

def tail(xs):
    """(value, percentile): the highest of p99/p95/p90 with at least ten
    samples above it, else the median (runs with fewer than 101 samples)."""
    s = sorted(xs)
    n = len(s)
    for q in (99, 95, 90):
        k = max(0, math.ceil(q / 100 * n) - 1)
        if n - 1 - k >= 10:
            return s[k], q
    return statistics.median(s), 50


def _self_times(spans):
    """Self time (ms) per span: its duration minus its children's."""
    child = [0] * len(spans)
    for name, a, b, parent, key in spans:
        if parent >= 0:
            child[parent] += b - a
    return [((b - a) - c) / 1e6 for (_, a, b, _, _), c in zip(spans, child)]


# span name -> (self ms per op, share of traced op wall)
LAYERS = {"parser": ("parser.ms", "parser.share"),
          "planner": ("planner.ms", "planner.share"),
          "storage.write": ("storage.write_ms", "storage.write_share"),
          "operators.build": ("operators.build_ms", "operators.build_share"),
          "optimizer": ("optimizer.ms", "optimizer.share"),
          "optimizer.phys": ("optimizer.phys_ms", "optimizer.phys_share"),
          "exec": ("exec.ms", "exec.share"),
          "op": ("harness.ms", "harness.share")}


def metrics(spec, out, verdicts, traced):
    by_id = {op["id"]: op for ps in spec["passes"] for op in ps}
    ops = out["ops"]
    attempted = len(ops)
    failed = sum(1 for v in verdicts if v)
    reads = [r["ms"] for r in ops if r["cls"] == "read"]
    writes = [r["ms"] for r in ops if r["cls"] == "write"]
    rp50 = statistics.median(reads) if reads else 0.0
    rtail, rq = tail(reads) if reads else (0.0, 50)
    setups = out["setups"]
    record = {
        "failed_frac": failed / attempted,
        "failed_ops": sorted({v for v in verdicts if v})[:20],
        "n_reads": len(reads), "read_tail_pct": rq, "n_writes": len(writes),
        "setups_ms": setups, "passes_run": out["passes_run"],
        "timed_s": out["timed_s"],
    }
    if not traced:
        m = {
            "setup_s": (statistics.median(s["total_ms"] for s in setups) / 1e3, "s"),
            "ops_per_s": (attempted / out["timed_s"], "1/s"),
            "read_p50_ms": (rp50, "ms"),
            "read_tail_ms": (rtail, "ms"),
            "ok_frac": (1.0 - failed / attempted, "frac"),
            "peak_rss_mb": (out["peak_rss_mb"], "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, record

    tops = [r for r in ops if r["traced"]]
    keys = {r["key"] for r in tops}
    n = max(1, len(tops))
    wall = sum(r["ms"] for r in tops) or 1.0
    spans = out["spans"]
    selfs = _self_times(spans)
    tot, calls = {}, {}
    for (name, _, _, _, key), st in zip(spans, selfs):
        if key in keys:
            tot[name] = tot.get(name, 0.0) + st
            calls[name] = calls.get(name, 0) + 1
    ex = [out["exec"].get(k, {}) for k in keys]

    def exsum(f):
        return sum(e.get(f, 0) for e in ex)

    m = {}
    first = setups[0]
    m["engine.cold_setup_ms"] = (first["total_ms"], "ms")
    m["engine.session_ms"] = (statistics.median(s["session_ms"] for s in setups), "ms")
    m["engine.register_ms"] = (statistics.median(s["register_ms"] for s in setups), "ms")
    m["engine.warmup_ms"] = (statistics.median(s["warmup_ms"] for s in setups), "ms")
    for span, (ms, share) in LAYERS.items():
        m[ms] = (tot.get(span, 0.0) / n, "ms")
        m[share] = (tot.get(span, 0.0) / wall, "frac")
    m["parser.calls"] = (calls.get("parser", 0) / n, "count")
    m["parser.bytes"] = (sum(len(by_id[r["id"]]["text"]) for r in tops
                             if by_id[r["id"]]["kind"] == "dialect") / n, "B")
    m["planner.calls"] = (calls.get("planner", 0) / n, "count")
    multi = [r for r in ops if r["joins"] >= 3]
    m["optimizer.reorders"] = (sum(r["reorders"] for r in ops) / len(ops), "count")
    m["optimizer.reorder_frac"] = (
        sum(1 for r in multi if r["reorders"] > 0) / len(multi) if multi else 0.0,
        "frac")
    pinned = [r["pinned_after"] for r in ops if "pinned_after" in r]
    m["operators.pinned_after"] = (statistics.mean(pinned) if pinned else 0.0, "count")
    m["exec.stages"] = (exsum("stages") / n, "count")
    m["exec.tasks"] = (exsum("tasks") / n, "count")
    m["exec.task_cpu_s"] = (exsum("cpu_ns") / 1e9 / n, "s")
    m["exec.scheduler_delay_ms"] = (exsum("sched_ms") / n, "ms")
    m["exec.shuffle_write_mb"] = (exsum("shuffle_w") / 2**20 / n, "MB")
    m["exec.shuffle_read_mb"] = (exsum("shuffle_r") / 2**20 / n, "MB")
    m["exec.spill_mb"] = (exsum("spill") / 2**20 / n, "MB")
    m["exec.peak_exec_mem_mb"] = (max([e.get("peak_mem", 0) for e in ex] or [0])
                                  / 2**20, "MB")
    m["exec.failed_tasks"] = (exsum("failed"), "count")
    arms = [r["arms"] for r in ops if "arms" in r]
    m["storage.table_arms"] = (max(arms) if arms else 0, "count")
    m["storage.table_arms_min"] = (min(arms) if arms else 0, "count")
    idx = [r["ms"] for r in ops if r["indexed"]]
    m["storage.indexed_read_ms"] = (statistics.mean(idx) if idx else 0.0, "ms")
    m["write_p50_ms"] = (statistics.median(writes) if writes else 0.0, "ms")
    m["write_tail_ms"] = (tail(writes)[0] if writes else 0.0, "ms")
    gc = sum(r["gc_ms"] for r in tops)
    m["jvm.gc_ms"] = (gc / n, "ms")
    m["jvm.gc_frac"] = (gc / wall, "frac")
    m["jvm.gc_flagged_ops"] = (sum(1 for r in tops if r["gc_ms"] > GC_FLAG * r["ms"]),
                               "count")
    # the first pass is untraced and still warming up: leave it out
    tw = [ms for t, ms in out["pass_wall"][1:] if t]
    uw = [ms for t, ms in out["pass_wall"][1:] if not t]
    m["trace.overhead_frac"] = (statistics.mean(tw) / statistics.mean(uw) - 1
                                if tw and uw else 0.0, "frac")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}, record
