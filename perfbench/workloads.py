"""The workloads: their seeded plans, their reference checks and their
metrics.

A plan is what the Spark side (`graft.perfbench.Main`) executes; the
result file it writes back is checked here against DuckDB and turned
into metrics. Every check that fails counts its operation as failed.
"""
import datetime
import decimal
import glob
import math
import os
import random
import statistics

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# Registry rows of stream_ingest: a fixed subset of the st* family, not
# all 19 rows, so that a run (one untimed set-up pass plus two timed
# passes) stays under a minute. It keeps the two rows the roadmap
# targets and one row of each other kind of streaming state and sink.
STREAM_ROWS = [
    "st13_join_window_agg",     # stream-static join feeding a windowed aggregate
    "st8_stream_stream_join",   # two streams, join state on both sides
    "st2_tumbling_window",      # event-time window aggregate, 3600 result rows
    "st6_stateful_op",          # arbitrary keyed state
    "st11_stream_to_catalog",   # micro-batches committed into a graft table
]

NS = "bench"
CATALOG_TABLES = ["lineitem", "orders", "customer"]
MV = "li_mv"
SETUP_REPS = 3
BLOCKS = 8                       # a warm-up block and more than any run reaches
APPEND_ROWS, UPSERT_ROWS, MERGE_ROWS = 2000, 1000, 300
# One block of the catalog_rw loop: twelve reads and six writes (append,
# upsert, delete, merge, then compaction of the upsert target and an MV
# refresh).
BLOCK_READS = ["read_point"] * 4 + ["read_range", "read_scan", "read_join", "read_mv"] * 2


# ---------------------------------------------------------------- plans

def make_plan(workload, seed, data_dir, work_dir):
    if workload == "catalog_rw":
        return _catalog_plan(seed, data_dir, work_dir)
    rows = list(STREAM_ROWS)
    random.Random(seed).shuffle(rows)
    return {"workload": workload, "data_dir": data_dir, "rows": rows}


def _ts(day, spark):
    d = datagen.EPOCH_1995 + np.timedelta64(int(day), "D")
    text = str(d.astype("datetime64[D]"))
    return f"TIMESTAMP_NTZ '{text}'" if spark else f"TIMESTAMP '{text}'"


def _sql_type(t):
    return {pa.int64(): "BIGINT", pa.int32(): "INT", pa.float64(): "DOUBLE",
            pa.string(): "STRING", pa.timestamp("us"): "TIMESTAMP_NTZ"}[t]


def _create(table):
    cols = ", ".join(f"{f.name} {_sql_type(f.type)}" for f in datagen.SCHEMAS[table])
    return f"CREATE TABLE graft.{NS}.{table} ({cols}) USING graft"


def _write_pools(rng, data_dir):
    """Input batches of the seeded writes, one parquet file per target
    table, tagged with `batch_id`."""
    li = datagen.lineitem_columns(rng, APPEND_ROWS * BLOCKS)
    li["batch_id"] = np.repeat(np.arange(BLOCKS, dtype=np.int64), APPEND_ROWS)
    up_keys, mg_keys = [], []
    for b in range(BLOCKS):
        old = rng.choice(datagen.N_ORDERS, UPSERT_ROWS * 9 // 10, replace=False)
        new = datagen.N_ORDERS + b * UPSERT_ROWS + np.arange(UPSERT_ROWS - len(old))
        up_keys.append(np.concatenate([old, new]))
        old = rng.choice(datagen.N_CUSTOMER, MERGE_ROWS * 9 // 10, replace=False)
        new = datagen.N_CUSTOMER + b * MERGE_ROWS + np.arange(MERGE_ROWS - len(old))
        mg_keys.append(np.concatenate([old, new]))
    orders = datagen.orders_columns(rng, np.concatenate(up_keys))
    orders["batch_id"] = np.repeat(np.arange(BLOCKS, dtype=np.int64), UPSERT_ROWS)
    cust = datagen.customer_columns(rng, np.concatenate(mg_keys))
    cust["batch_id"] = np.repeat(np.arange(BLOCKS, dtype=np.int64), MERGE_ROWS)
    pools = {}
    for name, table, cols in [("pool_lineitem", "lineitem", li),
                              ("pool_orders", "orders", orders),
                              ("pool_customer", "customer", cust)]:
        schema = datagen.SCHEMAS[table].append(pa.field("batch_id", pa.int64()))
        path = f"{data_dir}/{name}.parquet"
        datagen.write_parquet(path, cols, schema)
        pools[name] = path
    return pools


def _catalog_plan(seed, data_dir, work_dir):
    rng = np.random.default_rng([seed, 1])
    pools = _write_pools(rng, data_dir)
    t = f"graft.{NS}"
    # lineitem arrives in eight commits by ship date, so its segments
    # carry disjoint ship-date zone maps; orders in two by key. Each
    # lineitem commit reads its own source file.
    cuts = np.linspace(0, 2500, 9).astype(int)
    sources = {f"src_{x}": f"{data_dir}/{x}.parquet" for x in ("orders", "customer")}
    setup = [_create(x) for x in CATALOG_TABLES]
    con = duckdb.connect()
    for i, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
        path = f"{data_dir}/lineitem_part{i}.parquet"
        con.execute(f"COPY (SELECT * FROM read_parquet('{data_dir}/lineitem.parquet') "
                    f"WHERE l_shipdate >= {_ts(a, False)} AND l_shipdate < {_ts(b, False)}) "
                    f"TO '{path}' (FORMAT PARQUET)")
        sources[f"src_lineitem_{i}"] = path
        setup.append(f"INSERT INTO {t}.lineitem SELECT * FROM src_lineitem_{i}")
    half = datagen.N_ORDERS // 2
    setup += [f"INSERT INTO {t}.orders SELECT * FROM src_orders WHERE o_orderkey < {half}",
              f"INSERT INTO {t}.orders SELECT * FROM src_orders WHERE o_orderkey >= {half}",
              f"INSERT INTO {t}.customer SELECT * FROM src_customer",
              f"CALL graft.system.create_mv('{NS}', '{MV}', '{NS}.lineitem', "
              "'l_returnflag,l_linestatus', "
              "'count(*) AS cnt, sum(CAST(l_quantity AS DECIMAL(18,2))) AS dq')"]
    teardown = [f"DROP TABLE IF EXISTS {t}.{x} PURGE" for x in [MV] + CATALOG_TABLES]

    ops, blocks = [], []
    for b in range(BLOCKS):
        block = [_read(kind, rng) for kind in BLOCK_READS]
        block += [
            {"kind": "append", "class": "commit", "table": "lineitem",
             "batch": {"pool": "pool_lineitem", "id": b, "view": "batch_src"},
             "sql": f"INSERT INTO {t}.lineitem SELECT * FROM batch_src"},
            {"kind": "upsert", "class": "commit", "table": "orders",
             "batch": {"pool": "pool_orders", "id": b, "view": "batch_src"},
             "upsert_keys": "o_orderkey"},
            _delete(rng),
            {"kind": "merge", "class": "commit", "table": "customer",
             "batch": {"pool": "pool_customer", "id": b, "view": "batch_src"},
             "sql": f"MERGE INTO {t}.customer t USING batch_src s "
                    "ON t.c_custkey = s.c_custkey "
                    "WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal, "
                    "t.c_mktsegment = s.c_mktsegment WHEN NOT MATCHED THEN INSERT *"}]
        # Reads and DML in seeded order; the block's maintenance last, so
        # it always finds the block's upsert and delete to fold in. The
        # compaction also retires the upsert's equality deletes, so at the
        # end the ledger's segment row counts are the tables' row counts.
        block = [block[i] for i in rng.permutation(len(block))]
        block += [_compact("orders"), _refresh()]
        for op in block:
            op["id"] = len(ops)
            op["block"] = b
            ops.append(op)
        blocks.append(block)
    return {"workload": "catalog_rw", "namespace": NS, "tables": CATALOG_TABLES,
            "catalog_root": f"{work_dir}/catalog", "data_dir": data_dir,
            "sources": sources,
            "pools": pools, "setup_reps": SETUP_REPS, "setup": setup,
            "teardown": teardown, "blocks": blocks}


def _compact(table):
    return {"kind": "compact", "class": "commit", "table": table,
            "sql": f"CALL graft.system.compact('{NS}', '{table}')"}


def _refresh():
    return {"kind": "refresh_mv", "class": "commit", "table": MV,
            "sql": f"CALL graft.system.refresh_mv('{NS}', '{MV}')"}


def _delete(rng):
    lo = int(rng.integers(0, datagen.N_ORDERS - 100))
    pred = f"l_orderkey >= {lo} AND l_orderkey < {lo + 100}"
    return {"kind": "delete", "class": "commit", "table": "lineitem",
            "sql": f"DELETE FROM graft.{NS}.lineitem WHERE {pred}",
            "ref": [f"DELETE FROM lineitem WHERE {pred}"]}


def _read(kind, rng):
    t = f"graft.{NS}"
    if kind == "read_point":
        key = int(rng.integers(0, datagen.N_ORDERS))
        sql = f"SELECT * FROM {{}}orders WHERE o_orderkey = {key}"
        tables = ["orders"]
    elif kind == "read_range":
        day = int(rng.integers(0, 2400))
        sql = ("SELECT count(*) AS n, sum(l_extendedprice * (1 - l_discount)) AS revenue "
               "FROM {}lineitem WHERE l_shipdate >= {} AND l_shipdate < {}")
        return _read_op(kind, ["lineitem"],
                        sql.format(t + ".", _ts(day, True), _ts(day + 90, True)),
                        sql.format("", _ts(day, False), _ts(day + 90, False)))
    elif kind == "read_scan":
        sql = ("SELECT count(*) AS n, sum(l_orderkey) AS ok, sum(l_partkey) AS pk, "
               "sum(l_suppkey) AS sk, sum(l_linenumber) AS ln, sum(l_quantity) AS qty, "
               "sum(l_extendedprice) AS price, sum(l_discount) AS disc, sum(l_tax) AS tax, "
               "count(DISTINCT l_returnflag || l_linestatus) AS flags, "
               "max(l_shipdate) AS last_ship FROM {}lineitem")
        tables = ["lineitem"]
    elif kind == "read_join":
        year = int(rng.integers(1995, 2001))
        sql = ("SELECT c_mktsegment, count(*) AS n, sum(l_extendedprice) AS revenue "
               "FROM {0}lineitem JOIN {0}orders ON l_orderkey = o_orderkey "
               "JOIN {0}customer ON o_custkey = c_custkey "
               "WHERE o_orderdate >= {1} AND o_orderdate < {2} "
               "GROUP BY c_mktsegment ORDER BY c_mktsegment")
        lo, hi = (np.datetime64(f"{year}-01-01") - datagen.EPOCH_1995.astype("datetime64[D]"),
                  np.datetime64(f"{year + 1}-01-01") - datagen.EPOCH_1995.astype("datetime64[D]"))
        lo, hi = int(lo.astype(int)), int(hi.astype(int))
        return _read_op(kind, ["lineitem", "orders", "customer"],
                        sql.format(t + ".", _ts(lo, True), _ts(hi, True)),
                        sql.format("", _ts(lo, False), _ts(hi, False)))
    else:  # read_mv: the MV's grouping, or a rollup of it
        groups = ["l_returnflag, l_linestatus", "l_returnflag"][int(rng.integers(0, 2))]
        sql = (f"SELECT {groups}, count(*) AS cnt, "
               "sum(CAST(l_quantity AS DECIMAL(18,2))) AS dq "
               f"FROM {{}}lineitem GROUP BY {groups} ORDER BY {groups}")
        op = _read_op(kind, ["lineitem"], sql.format(t + "."), sql.format(""))
        op["mv"] = MV
        return op
    return _read_op(kind, tables, sql.format(t + "."), sql.format(""))


def _read_op(kind, tables, sql, ref):
    return {"kind": kind, "class": "read", "table": tables[0], "tables": tables,
            "sql": sql, "ref_sql": ref}


# ---------------------------------------------------------------- checks

def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):   # TIMESTAMP_NTZ as epoch microseconds
        return (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _same_rows(got, want):
    got = sorted((tuple(_norm(c) for c in r) for r in got), key=repr)
    want = sorted((tuple(_norm(c) for c in r) for r in want), key=repr)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _replay_write(con, op):
    """Apply one acknowledged write to the DuckDB shadow tables."""
    kind = op["kind"]
    if kind in ("append", "upsert", "merge"):
        pool, b = op["batch"]["pool"], op["batch"]["id"]
        src = f"(SELECT * EXCLUDE (batch_id) FROM {pool} WHERE batch_id = {b})"
        if kind == "append":
            con.execute(f"INSERT INTO lineitem SELECT * FROM {src}")
        elif kind == "upsert":
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            con.execute(f"INSERT INTO orders SELECT * FROM {src}")
        else:
            con.execute(f"UPDATE customer SET c_acctbal = s.c_acctbal, "
                        f"c_mktsegment = s.c_mktsegment FROM {src} s "
                        "WHERE customer.c_custkey = s.c_custkey")
            con.execute(f"INSERT INTO customer SELECT * FROM {src} s "
                        "WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer)")
    for sql in op.get("ref", []):
        con.execute(sql)


def check_catalog(plan, result, problems):
    """Replays the acknowledged writes on DuckDB shadow tables, checks
    every read against them, then checks the ledger-rebuilt state.
    Returns the ids of timed ops whose result was wrong."""
    ops = {op["id"]: op for block in plan["blocks"] for op in block}
    con = duckdb.connect()
    for x in CATALOG_TABLES:
        con.execute(f"CREATE TABLE {x} AS SELECT * FROM read_parquet('{plan['data_dir']}/{x}.parquet')")
    for name, path in plan["pools"].items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    wrong, acked = set(), {}
    for rec in result["ops"]:
        op = ops[rec["op"]]
        if not rec["ok"]:
            continue
        if op["class"] == "read":
            want = con.execute(op["ref_sql"]).fetchall()
            if not _same_rows(rec["result"], want):
                wrong.add(rec["op"])
                problems.append(f"{op['kind']} op {rec['op']}: got {rec['result'][:3]} "
                                f"want {want[:3]}")
        else:
            _replay_write(con, op)
            acked[op["table"]] = rec["version"]
    # Durability: the ledger alone must hold every acknowledged commit.
    want_rows = {x: con.execute(f"SELECT count(*) FROM {x}").fetchone()[0]
                 for x in CATALOG_TABLES}
    want_rows[MV] = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)").fetchone()[0]
    for table, version in acked.items():
        got = result["ledger"].get(table)
        if got is None or got["version"] != version or got["rows"] != want_rows[table] \
                or got["eq_deletes"] != 0:
            problems.append(f"ledger of {table}: {got}, acknowledged version {version}, "
                            f"shadow rows {want_rows[table]}")
    user_bytes = 0
    for x in CATALOG_TABLES:
        path = f"{plan['data_dir']}/final_{x}.parquet"
        table = con.execute(f"SELECT * FROM {x}").fetch_arrow_table()
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        user_bytes += os.path.getsize(path)
    return wrong, user_bytes


def check_rows(plan, result, problems):
    """Compares each row's set-up result with its DuckDB oracle, the way
    `tools/check_oracle.py` does. Returns the names of wrong rows."""
    con = duckdb.connect()
    for t in datagen.SCHEMAS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{plan['data_dir']}/{t}.parquet')")
    wrong = set()
    for name, sql in result["oracle"].items():
        files = glob.glob(f"{result['results_dir']}/{name}/*.parquet")
        if not files:
            continue   # the set-up invocation failed; its ops fail on their own
        oc = con.execute(sql)
        ocols, orows = [d[0] for d in oc.description], oc.fetchall()
        sc = con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols, srows = [d[0] for d in sc.description], sc.fetchall()
        if sorted(ocols) != sorted(scols) or _oracle_rows(ocols, orows) != _oracle_rows(scols, srows):
            wrong.add(name)
            problems.append(f"{name}: result differs from its DuckDB oracle")
    return wrong


def _oracle_rows(cols, rows):
    """tools/check_oracle.py's normalization, copied so that the benchmark's
    checks stay fixed while the repository's tools change."""
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(cell(r[i]) for i in order) for r in rows]


# --------------------------------------------------------------- metrics

def pct(values, q):
    """The q-quantile by linear interpolation between order statistics."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def summarize(workload, plan, result, trace):
    """Checks the run and computes its metrics.

    Returns (correct, attempted, failed, metrics, report, problems):
    metrics holds the end-to-end metrics (trace 0) or the per-layer ones
    (trace 1), report lists every metric of the run with its unit and
    sample count for the human reader, and problems every failed check.
    """
    problems = []
    timed = [r for r in result["ops"] if r["class"] in ("read", "commit", "row")]
    setup = result["setup_s"]
    if workload == "catalog_rw":
        wrong, user_bytes = check_catalog(plan, result, problems)
        bad = [r for r in timed if not r["ok"] or r["op"] in wrong]
    else:
        wrong = check_rows(plan, result, problems)
        user_bytes = 0
        failed_setup = [r["name"] for r in result["ops"] if r["class"] == "setup" and not r["ok"]]
        problems += [f"{n}: set-up invocation failed" for n in failed_setup]
        bad = [r for r in timed if not r["ok"] or r["name"] in wrong]
    for r in bad:
        if r.get("error"):
            problems.append(f"{r['name']}: {r['error']}")
    arm = [r for r in timed if not r.get("traced")] if trace else timed
    secs = [r["s"] for r in arm]
    report = []

    def rep(name, value, unit, n):
        report.append((name, value, unit, n))
        return value

    # The end-to-end metrics of BENCHMARK.json, which later changes are
    # held to; the others are reported only. On a shared 4-vCPU host the
    # machine's speed drifts by up to a third within ten minutes, which
    # moves every timing but set-up's share of a run, so timings other
    # than setup_s spread too widely over ten runs to serve as a bound.
    e2e = {
        "setup_s": rep("setup_s", statistics.median(setup), "s", len(setup)),
        "heap_peak_mb": rep("heap_peak_mb", result["heap_peak_mb"], "MB", 1),
    }
    w = weights(workload, plan)
    rep("ops_per_s", 1.0 / mix_cost(arm, w, "s"), "1/s", len(secs))
    rep("cpu_s_per_op", mix_cost(arm, w, "cpu_s"), "s", len(secs))
    rep("op_p50_s", pct(secs, 0.5), "s", len(secs))
    rep("op_p90_s", pct(secs, 0.9), "s", len(secs))
    rep("failed_ratio", len(bad) / max(1, len(timed)), "ratio", len(timed))
    if workload == "catalog_rw":
        reads = [r["s"] for r in arm if r["class"] == "read"]
        commits = [r["s"] for r in arm if r["class"] == "commit"]
        rep("read_p50_s", pct(reads, 0.5), "s", len(reads))
        rep("read_p90_s", pct(reads, 0.9), "s", len(reads))
        rep("commit_p50_s", pct(commits, 0.5), "s", len(commits))
        rep("commit_p90_s", pct(commits, 0.9), "s", len(commits))
        rep("bytes_per_user_byte", result["root_bytes"] / user_bytes, "ratio", 1)
    else:
        rep("row_p50_s", pct(secs, 0.5), "s", len(secs))
        rep("row_p90_s", pct(secs, 0.9), "s", len(secs))
    layer = per_layer(workload, result, timed, rep, problems) if trace else {}
    correct = not problems
    return correct, len(timed), len(bad), (layer if trace else e2e), report, problems


# Per-layer metrics emitted in the result line of every traced run; the
# names and units are those of BENCHMARK.json's `per_layer`.
LAYER_UNITS = {
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms", "plan.physical_ms": "ms",
    "plan.mv_rewrite_ratio": "ratio",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
    "exec.driver_s": "s", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "scan.segments_read": "count", "scan.segments_live": "count", "scan.prune_ratio": "ratio",
    "scan.bytes_read": "bytes", "scan.rows_read_per_row_returned": "ratio",
    "commit.jobs": "count", "commit.bytes_written": "bytes", "commit.ledger_files": "count",
    "storage.eq_deletes": "count", "compact.bytes_rewritten": "bytes",
    "stream.batches_per_op": "count", "stream.empty_batch_ratio": "ratio",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "row.st13_join_window_agg.jobs": "count", "row.st8_stream_stream_join.jobs": "count",
    "session.leaks": "count", "trace.overhead_ratio": "ratio",
}


def per_layer(workload, result, timed, rep, problems):
    traced = [r for r in timed if r.get("traced")]
    tr = [r["trace"] for r in traced]
    m = {}
    # An op's self time plus its job spans must account for its wall time.
    for r in traced:
        accounted = r["trace"]["wall_ms"] / 1000.0
        if abs(accounted - r["s"]) > 0.1 * r["s"] + 0.005:
            problems.append(f"{r['name']}: trace spans {accounted:.3f} s, wall {r['s']:.3f} s")

    def put(name, value, n, unit=None):
        m[name] = rep(name, value, unit or LAYER_UNITS[name], n)

    # Driver planning over reads (catalog_rw) or rows; scheduler and
    # executors over every traced op.
    planned = [r["trace"] for r in traced if r["class"] != "commit"] or tr
    put("plan.analysis_ms", _mean(t["analysis_ms"] for t in planned), len(planned))
    put("plan.optimizer_ms", _mean(t["optimizer_ms"] for t in planned), len(planned))
    put("plan.physical_ms", _mean(t["physical_ms"] for t in planned), len(planned))
    mv = [r for r in traced if r["name"] == "read_mv"]
    put("plan.mv_rewrite_ratio", _mean(1.0 if r["trace"]["mv_scan"] else 0.0 for r in mv), len(mv))
    put("exec.jobs_per_op", _mean(t["jobs"] for t in tr), len(tr))
    put("exec.stages_per_op", _mean(t["stages"] for t in tr), len(tr))
    put("exec.tasks_per_op", _mean(t["tasks"] for t in tr), len(tr))
    put("exec.driver_s", _mean((t["wall_ms"] - t["covered_ms"]) / 1000.0 for t in tr), len(tr))
    put("exec.task_s", _mean(t["task_s"] for t in tr), len(tr))
    put("exec.gc_s", _mean(t["gc_s"] for t in tr), len(tr))
    put("exec.shuffle_bytes", _mean(t["shuffle_bytes"] for t in tr), len(tr))
    put("exec.spill_bytes", _mean(t["spill_bytes"] for t in tr), len(tr))
    # graft.sources scans, over reads of catalog tables.
    reads = [r for r in traced if r["class"] == "read"]
    rt = [r["trace"] for r in reads]
    live = sum(t["segments_live"] for t in rt)
    put("scan.segments_read", _mean(t["scan_tasks"] for t in rt), len(rt))
    put("scan.segments_live", _mean(t["segments_live"] for t in rt), len(rt))
    put("scan.prune_ratio", 1 - sum(t["scan_tasks"] for t in rt) / live if live else 0.0, len(rt))
    # The graft scan reports rows but not bytes to the task input
    # metrics, so bytes read are its rows at the tables' bytes per row.
    put("scan.bytes_read", _mean(t["input_records"] * t["segment_bytes"] / t["segment_rows"]
                                 for t in rt), len(rt))
    returned = sum(r["rows"] for r in reads)
    put("scan.rows_read_per_row_returned",
        sum(t["input_records"] for t in rt) / returned if returned else 0.0, len(rt))
    # Write path and ledger.
    commits = [r for r in traced if r["name"] in ("append", "upsert", "delete", "merge")]
    ct = [r["trace"] for r in commits]
    put("commit.self_ms", _mean(t["wall_ms"] - t["covered_ms"] for t in ct), len(ct), "ms")
    put("commit.jobs", _mean(t["jobs"] for t in ct), len(ct))
    put("commit.bytes_written", _mean(t["bytes_written"] for t in ct), len(ct))
    put("commit.ledger_files", _mean(t["ledger_files"] for t in ct), len(ct))
    put("storage.eq_deletes", _mean(t["eq_deletes"] for t in rt), len(rt))
    compacts = [r for r in timed if r["name"] == "compact"]
    put("compact.s", _mean(r["s"] for r in compacts), len(compacts), "s")
    ctr = [r["trace"] for r in compacts if r.get("traced")]
    put("compact.bytes_rewritten", _mean(t["bytes_written"] for t in ctr), len(ctr))
    refreshes = [r for r in timed if r["name"] == "refresh_mv"]
    put("mv.refresh_s", _mean(r["s"] for r in refreshes), len(refreshes), "s")
    if workload == "catalog_rw":
        put("ledger.load_ms", result["ledger_load_ms"], 1, "ms")
    # graft.streaming and the state store.
    batches = [b for t in tr for b in t["batches"]]
    put("stream.batches_per_op", len(batches) / max(1, len(tr)), len(tr))
    put("stream.empty_batch_ratio",
        _mean(1.0 if b["numInputRows"] == 0 else 0.0 for b in batches), len(batches))
    for phase in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        put(f"stream.{phase}_ms", _mean(b.get(phase, 0.0) for b in batches), len(batches), "ms")
    put("stream.batch_p50_ms", pct([b.get("triggerExecution", 0.0) for b in batches], 0.5),
        len(batches), "ms")
    put("state.commit_ms", _mean(b["stateCommitMs"] for b in batches), len(batches), "ms")
    put("state.rows_total", _mean(b["stateRowsTotal"] for b in batches), len(batches))
    put("state.memory_bytes", _mean(b["stateMemoryBytes"] for b in batches), len(batches))
    for row in ("st13_join_window_agg", "st8_stream_stream_join"):
        runs = [r for r in traced if r["name"] == row]
        put(f"row.{row}.s", _mean(r["s"] for r in runs), len(runs), "s")
        put(f"row.{row}.jobs", _mean(r["trace"]["jobs"] for r in runs), len(runs))
    put("session.leaks", float(result["leaks"]), len(result["ops"]))
    put("trace.overhead_ratio", _overhead(timed), len(timed))
    return {k: v for k, v in m.items() if k in LAYER_UNITS}


def weights(workload, plan):
    """Each op kind's share of the workload's mix: its count in one block
    of the plan, or one per registry row."""
    if workload != "catalog_rw":
        return {name: 1 for name in plan["rows"]}
    w = {}
    for op in plan["blocks"][1]:
        w[op["kind"]] = w.get(op["kind"], 0) + 1
    return w


def mix_cost(records, w, field):
    """Mean of `field` (seconds or CPU seconds) per op of the workload's
    mix, from each op kind's median in the run: one slow outlier moves a
    median little, and the mean does not depend on how many blocks or
    passes fit in a run."""
    vals = {}
    for r in records:
        vals.setdefault(r["name"], []).append(r[field])
    w = {k: n for k, n in w.items() if k in vals}
    return sum(n * statistics.median(vals[k]) for k, n in w.items()) / sum(w.values())


def _overhead(timed):
    """Traced ops/s over untraced ops/s on the same mix: per op kind,
    the untraced mean time over the traced mean time, weighted by count."""
    kinds = {}
    for r in timed:
        kinds.setdefault(r["name"], {True: [], False: []})[bool(r.get("traced"))].append(r["s"])
    num = den = 0.0
    for arms in kinds.values():
        if arms[True] and arms[False]:
            n = len(arms[True]) + len(arms[False])
            num += n * _mean(arms[False])
            den += n * _mean(arms[True])
    return num / den if den else 0.0
