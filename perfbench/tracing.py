"""Per-layer metrics of a traced run, and the pipeline's oracle check.

The harness JVM writes its events (Spark jobs, stages, SQL executions,
Catalyst phases, cache samples, and the benchmark's own spans around calls
into each layer) as JSON lines. Here they are joined to the client's
operations of the traced phase: a wire statement owns the jobs of its
connection's job group (`pgwire-<pid>`) that start inside it, and the SQL
executions those jobs belong to; a library query owns what starts inside it.
A span's self time is its duration minus the part its children cover.
"""
import glob
import json
import os

import stats
import wire


def table_files(root, table):
    """{path: bytes} of the data files under every `<warehouse>/<table>`."""
    out = {}
    for d in glob.glob(os.path.join(root, "graft-warehouse*", table)):
        for base, _, files in os.walk(d):
            for f in files:
                if not f.startswith((".", "_")):
                    p = os.path.join(base, f)
                    out[p] = os.path.getsize(p)
    return out


def write_replay(path, statements):
    """The harness's replay file: `<kind>\\t<sql>` lines, kind one of
    prepass, encode_text, encode_binary."""
    with open(path, "w") as f:
        for kind, sql in statements:
            f.write("%s\t%s\n" % (kind, sql.replace("\n", "\\n")))


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def load(trace_file):
    ev = {"job": [], "stage": [], "qe": [], "span": [], "cache": [], "encode": [], "gc": []}
    sql_start, sql = {}, {}
    with open(trace_file) as f:
        for line in f:
            e = json.loads(line)
            k = e["k"]
            if k == "sql_start":
                sql_start[e["exec"]] = e["t"]
            elif k == "sql_end":
                if e["exec"] in sql_start:
                    sql[e["exec"]] = (sql_start[e["exec"]], e["t"])
            else:
                ev[k].append(e)
    ev["sql"] = sql
    return ev


def per_layer(workload, log, trace_file, files, untraced, traced, untraced_read_p50, cores):
    """{metric: (value, unit)} for the traced phase of a run; `untraced`
    and `traced` are the end-to-end metrics of the two phases."""
    ev = load(trace_file)
    ops = log.select("traced")
    all_ops = [o for o in log.ops if o.phase == "traced"]
    w0 = min(o.wall0 for o in all_ops) * 1000
    w1 = max(o.wall1 for o in all_ops) * 1000
    wall_s = (w1 - w0) / 1000
    n = len(ops)
    inside = lambda t: w0 <= t <= w1
    jobs = [j for j in ev["job"] if inside(j["start"])]
    stages = [s for s in ev["stage"] if inside(s["submit"])]
    qes = [q for q in ev["qe"] if w0 <= q["t"] <= w1 + 1000]
    spans = {}
    for s in ev["span"]:
        spans.setdefault(s["name"], []).append(s["ns"] / 1e6)
    cache = [c for c in ev["cache"] if inside(c["t"])] or ev["cache"][-1:]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    # ownership: jobs (and through them SQL executions) per operation
    in_engine, self_stmt, self_sql, job_cov = [], [], [], []
    for o in ops:
        if o.kind not in stats.READ_KINDS[workload]:
            continue
        lo, hi = o.wall0 * 1000, o.wall1 * 1000
        group = "pgwire-%s" % o.conn
        mine = [j for j in jobs if lo <= j["start"] <= hi
                and (workload == "pipeline" or j["group"] == group)]
        execs = {j["exec"] for j in mine if j["exec"]}
        if workload == "pipeline":
            execs |= {x for x, (a, _) in ev["sql"].items() if lo <= a <= hi}
        # toLocalIterator's jobs outlive its SQL execution, so in-engine
        # time is the union of the statement's SQL executions and jobs
        job_iv = [(j["start"], j["end"]) for j in mine]
        eng = union_ms([ev["sql"][x] for x in execs if x in ev["sql"]] + job_iv, lo, hi)
        jc = union_ms(job_iv, lo, hi)
        in_engine.append(eng)
        self_stmt.append(max(0.0, (hi - lo) - eng))
        self_sql.append(max(0.0, eng - jc))
        job_cov.append(jc)

    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    tot = lambda key: sum(s[key] for s in stages)
    tasks = tot("tasks")
    encode_fields = sum(e["fields"] for e in ev["encode"])
    encode_rows = sum(e["rows"] for e in ev["encode"])
    setup = spans.get("server.session_setup", [])
    new_session = spans.get("server.new_session", [])

    f0, f1 = files if files else ({}, {})
    new_bytes = sum(s for p, s in f1.items() if f0.get(p) != s)
    changed = sum(o.changed for o in ops if o.kind in ("write", "copy_in"))
    mb = 1048576.0
    m = {
        "server.session_setup_ms": (med(setup) + med(new_session), "ms"),
        "server.encode_ns_per_field": (
            sum(e["ns"] for e in ev["encode"]) / encode_fields if encode_fields else 0.0, "ns"),
        "server.bytes_per_row": (
            sum(e["bytes"] for e in ev["encode"]) / encode_rows if encode_rows else 0.0, "B"),
        "server.residual_ms_p50": (untraced_read_p50 - med(in_engine), "ms"),
        "prepass.ms_p50": (med(spans.get("prepass", [])), "ms"),
        "engine.query_ms_p50": (med(spans.get("engine.query", [])), "ms"),
        "catalyst.analysis_ms": (med([q["analysis"] for q in qes]), "ms"),
        "catalyst.optimization_ms": (med([q["optimization"] for q in qes]), "ms"),
        "catalyst.planning_ms": (med([q["planning"] for q in qes]), "ms"),
        "exec.jobs_per_op": (len(jobs) / n, "count"),
        "exec.stages_per_op": (len(stages) / n, "count"),
        "exec.tasks_per_op": (tasks / n, "count"),
        "exec.task_busy_s": (tot("busy_ms") / 1000 / n, "s"),
        # task CPU, not task wall time: local[32] runs up to 32 tasks on
        # the box's cores, so summed task wall time overstates use
        "exec.core_util": (tot("cpu_ms") / 1000 / (wall_s * cores), "ratio"),
        "exec.task_wait_ms": (tot("wait_ms") / tasks if tasks else 0.0, "ms"),
        "exec.shuffle_write_mb": (tot("shuffle_write") / mb / n, "MB"),
        "exec.shuffle_read_mb": (tot("shuffle_read") / mb / n, "MB"),
        "exec.spill_mb": (tot("spill") / mb / n, "MB"),
        "exec.gc_ms": (sum(g["ms"] for g in ev["gc"]), "ms"),
        "exec.failed_tasks": (tot("failed_tasks") + sum(1 for j in jobs if not j["ok"]), "count"),
        "cache.retained_mb": (cache[-1]["bytes"] / mb if cache else 0.0, "MB"),
        "cache.persisted_rdds": (cache[-1]["rdds"] if cache else 0, "count"),
        "write.bytes_per_row": (new_bytes / changed if changed else 0.0, "B"),
        "write.table_files": (len(f1), "count"),
        "span.stmt_self_ms": (mean(self_stmt), "ms"),
        "span.sql_self_ms": (mean(self_sql), "ms"),
        "span.job_ms": (mean(job_cov), "ms"),
    }
    for k in ("read_ms_geomean", "stmts_per_s", "rows_per_s"):
        unit = "ms" if k.startswith("read_ms") else "1/s"
        m["trace.%s_overhead" % k] = (traced[k] - untraced[k], unit)
    return m


def oracle_check(data_dir, results, name, sql):
    """One pipeline result (pass 0, as parquet) against its DuckDB
    oracle, normalized as tools/check.py does: columns in name order,
    rows sorted, floats at 9 significant digits. None when they agree."""
    con = wire.duck(data_dir)
    files = glob.glob(os.path.join(results, name, "*.parquet"))
    if not files:
        return "%s: no result written" % name

    def rows_of(cur):
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return ([cols[i] for i in order],
                sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall()))
    try:
        ocols, orows = rows_of(con.execute(sql))
    except Exception as e:  # the oracle itself failed: report, do not skip
        return "%s: oracle error %s" % (name, e)
    scols, srows = rows_of(con.execute(
        "SELECT * FROM read_parquet('%s/%s/*.parquet')" % (results, name)))
    if ocols != scols:
        return "%s: columns %s, oracle %s" % (name, scols, ocols)
    if orows != srows:
        return "%s: %d rows, oracle %d" % (name, len(srows), len(orows))
    return None


def norm(v):
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return wire.norm_value(v)
