#!/usr/bin/env python3
"""Wire-to-last-row benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program from the
checkout's sources together with the harness under perfbench/src (sbt,
offline); later runs reuse the build while the sources are unchanged.

Workloads (README.md in this directory says why each exists):
  interactive  4 pg connections: connect, select 1, 1-10 short reads, Terminate
  export       1 pg connection: whole-table reads in text and binary, COPY TO STDOUT
  ingest       2 pg connections: COPY FROM STDIN, INSERT, UPDATE, DELETE, reads
  pipeline     1 library caller: SparkEntry.queries, results collected in full

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 the run measures an untraced phase, then a traced phase on the
same process, each half of --seconds, and the last line carries the
per-layer metrics and the tracing overhead. The line before it echoes the
box, the configuration as run, the client's own CPU, every
workload-specific figure, and failures.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import socket
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
import wire  # noqa: E402
from stats import Op, OpLog  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_DIR = os.path.join(HERE, "target")
DATA_NAME = "~/testdata/sf0.1"  # the repo's shared sf0.1 tables
DATA = os.path.expanduser(DATA_NAME)
WORKLOADS = ("interactive", "export", "ingest", "pipeline")
# One query per family, the cheapest of the family on a 4-core box, so a
# warm pass fits a run (the full 15-query pass takes about 38 s warm).
PIPELINE_QUERIES = ("q_dedup_minhash", "q_ann_ivf", "q_text_bm25", "q_pipeline_refine",
                    "q_multimodal_features", "q_tpch_q3")
JVM_TIMEOUT = 120
# a run after the build must end within 180 s; past this it stops its
# processes and exits non-zero instead of hanging
RUN_TIMEOUT = 170


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def positive_int(text):
    try:
        v = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError("not a whole number: %r" % text)
    if v < 1:
        raise argparse.ArgumentTypeError("must be at least 1: %r" % text)
    return v


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=positive_int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def phase_seconds(args):
    """A traced run splits its seconds between an untraced and a traced
    phase, so it takes about as long as an untraced run."""
    return args.seconds / 2 if args.trace else args.seconds


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())  # the program's -Xmx
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the classpath and the
    JVM options the program's own build forks `run` with."""
    stamp_file = os.path.join(BUILD_DIR, "bench-stamp.txt")
    cp_file = os.path.join(BUILD_DIR, "bench-classpath.txt")
    opts_file = os.path.join(BUILD_DIR, "bench-java-options.txt")

    def read_built():
        with open(cp_file) as f, open(opts_file) as g:
            return f.read().strip(), [x for x in g.read().splitlines() if x]
    stamp = source_stamp()
    if all(map(os.path.exists, (stamp_file, cp_file, opts_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_built()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # offline toolchain: resolve from the local caches only
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos,
                "-Dsbt.offline=true"]
    cmd += ["compile", "exportJavaOptions", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if (p.returncode != 0 or not lines or "/classes" not in lines[-1]
            or not os.path.exists(opts_file)):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_built()


# ---------------------------------------------------------------- JVMs

class Jvm:
    """A harness JVM (perfbench.Shipped, .Traced or .Library). Lines it
    prints as `PERFBENCH {json}` are queued for the controller."""
    live = []

    def __init__(self, main, args, built, name):
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cp, opts = built
        cmd = ["java", *opts, "-Djava.io.tmpdir=" + tmp, "-cp", cp, main, *map(str, args)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        self.log_path = os.path.join(WORK, name + ".log")
        self.log = open(self.log_path, "w")
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, env=env,
                                  cwd=WORK, start_new_session=True)
        Jvm.live.append(self)
        self.msgs = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.p.stdout:
            if line.startswith("PERFBENCH "):
                self.msgs.put(json.loads(line[len("PERFBENCH "):]))
        self.msgs.put(None)

    def next(self, timeout=JVM_TIMEOUT):
        try:
            m = self.msgs.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError("harness JVM silent for %ds; see %s" % (timeout, self.log_path))
        if m is None:
            raise RuntimeError("harness JVM exited (code %s); see %s" % (
                self.p.wait(), self.log_path))
        return m

    def expect(self, key, timeout=JVM_TIMEOUT):
        while True:
            m = self.next(timeout)
            if key in m:
                return m

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def stop(self):
        """Ask for heap after GC, then wait for the process to end."""
        self.send("stop")
        mem = self.expect("mem_mb")["mem_mb"]
        self.p.wait(timeout=JVM_TIMEOUT)
        self.close()
        return mem

    def close(self):
        Jvm.live.remove(self)
        self.p.stdin.close()
        self.p.stdout.close()
        self.log.close()

    @classmethod
    def kill_all(cls):
        for j in list(cls.live):
            try:
                os.killpg(j.p.pid, signal.SIGKILL)
            except OSError:
                pass
            j.p.wait()
            j.close()


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def wait_listening(jvm, port):
    while True:
        if jvm.p.poll() is not None:
            raise RuntimeError("server exited during start-up; see " + jvm.log_path)
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            return
        except OSError:
            if time.perf_counter() - jvm.t0 > JVM_TIMEOUT:
                raise RuntimeError("server did not listen within %ds" % JVM_TIMEOUT)
            time.sleep(0.02)


# ---------------------------------------------------------------- metrics

def e2e(workload, log, phase, setup_s, mem_mb):
    """The end-to-end metrics of one phase, plus the workload-specific
    figures (connect, first row, write, copy-in, pass...) as `detail`."""
    ok = log.select(phase)
    wall = log.window(phase)
    read_ops = [o for o in ok if o.kind in stats.READ_KINDS[workload]]
    if not read_ops:
        raise RuntimeError("no successful read in the %s phase" % phase)
    m = {
        "setup_s": setup_s,
        "read_ms_geomean": stats.kind_geomean(read_ops),
        "stmts_per_s": len(ok) / wall,
        "rows_per_s": sum(o.rows for o in ok) / wall,
        "mem_mb": mem_mb,
    }
    detail = {"samples": {}}

    def dist(name, xs):
        if not xs:
            return
        detail["samples"][name] = len(xs)
        detail[name + "_p50"] = stats.median(xs)
        p = stats.tail_percentile(len(xs))
        if p is not None and p > 50:
            detail["%s_p%g" % (name, p)] = stats.percentile(xs, p)
    dist("read_ms", [o.ms for o in read_ops])
    detail["read_ms_p50_by_kind"] = stats.kind_medians(read_ops)
    dist("connect_ms", [o.ms for o in ok if o.kind == "connect"])
    dist("write_ms", [o.ms for o in ok if o.kind == "write"])
    dist("first_row_ms", [(o.first_row - o.t0) * 1000 for o in ok
                          if o.first_row is not None and o.kind in ("read", "export")])
    copies = [o for o in ok if o.kind == "copy_in"]
    if copies:
        detail["copy_in_rows_per_s"] = sum(o.rows for o in copies) / sum(o.t1 - o.t0 for o in copies)
    exports = [o for o in ok if o.kind == "export"]
    if exports:
        detail["export_rows_per_s"] = sum(o.rows for o in exports) / sum(o.t1 - o.t0 for o in exports)
    if workload == "pipeline":
        detail["pass_s"] = stats.median(log.passes[phase])
        detail["query_s_geomean"] = m["read_ms_geomean"] / 1000
    detail["wall_s"] = wall
    return m, detail


# ---------------------------------------------------------------- workloads

def run_wire(args, built, log, out):
    """Start the server, time set-up, warm up, measure; with --trace,
    measure a traced phase on the same server afterwards."""
    con = wire.duck(DATA)
    if args.workload == "interactive":
        reads = wire.interactive_reads(args.seed, con)
        run = lambda deadline, phase, warm=False: wire.interactive(
            port, args.seed, deadline, log, phase, reads, warm=warm)
        kinds = {}
        for r in reads:
            if r.kind != "catalog":
                kinds.setdefault(r.kind, []).append(r.oracle)
        replay = lambda: ([("prepass", q) for qs in kinds.values() for q in qs[:3]] +
                          [("encode_text", qs[0]) for qs in kinds.values()])
    elif args.workload == "export":
        counts = wire.export_counts(con)
        run = lambda deadline, phase, warm=False: wire.export(
            port, args.seed, deadline, log, phase, counts, warm=warm)
        inner = [(proto, "SELECT * FROM %s" % table if proto == "copy" else sql)
                 for proto, sql, table, _ in wire.EXPORTS]
        replay = lambda: ([("prepass", q) for _, q in inner] +
                          [("encode_binary" if p == "binary" else "encode_text", q)
                           for p, q in inner])
    else:
        clients = [wire.IngestClient(c, args.seed) for c in range(2)]
        run = lambda deadline, phase, warm=False: wire.ingest(
            port, args.seed, deadline, log, phase, clients, warm=warm)
        replay = lambda: ([("prepass", q) for q in sorted(clients[0].reads)[:10]] +
                          [("encode_text", q) for q in sorted(clients[0].reads)[:3]])
    con.close()
    out["timeline"]["prepare"] = time.perf_counter()

    port = free_port()
    trace_file = os.path.join(WORK, "trace.jsonl")
    replay_file = os.path.join(WORK, "replay.tsv")
    if args.trace:
        jvm = Jvm("perfbench.Traced", [port, DATA, trace_file, replay_file], built, "server")
    else:
        jvm = Jvm("perfbench.Shipped", [port, DATA], built, "server")
    wait_listening(jvm, port)
    conn = wire.connect(log, port, "setup")
    if conn is None:
        raise RuntimeError("first statement failed: %s" % log.failures[-1:])
    setup_s = time.perf_counter() - jvm.t0
    conn.close()
    out["timeline"]["setup"] = time.perf_counter()
    out["config"].update(jvm.expect("config")["config"])

    if args.workload == "ingest":
        c = wire.pgclient.Conn(port)
        wire.run_op(log, "ddl", c, "warm", lambda: c.query(wire.INGEST_DDL))
        c.close()
    run(time.time() + 60, "warm", warm=True)
    out["timeline"]["warm"] = time.perf_counter()
    out["cpu0"] = time.process_time()
    run(time.time() + phase_seconds(args), "measure")
    out["cpu1"] = time.process_time()
    out["timeline"]["measure"] = time.perf_counter()
    traced = None
    if args.trace:
        table = os.path.join(WORK, "tmp")
        files0 = tracing.table_files(table, wire.INGEST_TABLE)
        jvm.send("trace")
        jvm.expect("tracing")
        run(time.time() + phase_seconds(args), "traced")
        files1 = tracing.table_files(table, wire.INGEST_TABLE)
        tracing.write_replay(replay_file, replay())
        traced = (files0, files1)
        out["timeline"]["traced"] = time.perf_counter()
    if args.workload == "ingest":
        why = wire.ingest_check(port, clients)
        op = Op("final_check", time.perf_counter(), time.time(), None, "check")
        op.t1, op.wall1, op.ok, op.why = op.t0, op.wall0, why is None, why
        log.add(op)
    out["timeline"]["check"] = time.perf_counter()
    mem = jvm.stop()
    out["timeline"]["stop"] = time.perf_counter()
    return setup_s, mem, (trace_file, traced) if args.trace else None


def run_pipeline(args, built, log, out):
    """The library caller: pass 0 warms up (its first query ends set-up),
    then measured passes; the oracle check and digests follow the run."""
    results = os.path.join(WORK, "results")
    trace_file = os.path.join(WORK, "trace.jsonl")
    jvm = Jvm("perfbench.Library", [DATA, phase_seconds(args), ",".join(PIPELINE_QUERIES),
                                    results, trace_file if args.trace else "-"],
              built, "library")
    setup_s = None
    digests = {}
    log.passes = {"measure": [], "traced": []}
    out["cpu0"] = time.process_time()
    while True:
        m = jvm.next(timeout=170)
        if "config" in m:
            out["config"].update(m["config"])
        elif "pass_s" in m:
            log.passes["traced" if m["traced"] else "measure"].append(m["pass_s"])
        elif "q" in m:
            if setup_s is None:
                setup_s = time.perf_counter() - jvm.t0
            phase = "warm" if m["pass"] == 0 else ("traced" if m["traced"] else "measure")
            op = Op("query", m["start"] / 1000.0, m["start"] / 1000.0, None, phase)
            op.label = m["q"]
            op.t1, op.wall1 = op.t0 + m["s"], m["end"] / 1000.0
            op.rows = m["rows"]
            first = digests.setdefault(m["q"], m["digest"])
            op.ok = first == m["digest"]
            op.why = None if op.ok else "%s digest changed in pass %d" % (m["q"], m["pass"])
            log.add(op)
        elif "oracles" in m:
            oracles = m["oracles"]
            break
    out["cpu1"] = time.process_time()
    out["timeline"]["passes"] = time.perf_counter()
    mem = jvm.stop()
    out["timeline"]["stop"] = time.perf_counter()
    for name, sql in sorted(oracles.items()):
        why = tracing.oracle_check(DATA, results, name, sql)
        op = Op("oracle_check", 0.0, 0.0, name, "check")
        op.t1, op.wall1, op.ok, op.why = 0.0, 0.0, why is None, why
        log.add(op)
    out["timeline"]["check"] = time.perf_counter()
    return setup_s, mem, (trace_file, None) if args.trace else None


# ---------------------------------------------------------------- main

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies():
    """(busy, steal) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def cpu_probe_s():
    """Seconds a fixed pure-Python loop takes: how fast this box runs now,
    next to loadavg and steal, to tell a slow box from a slow program."""
    t = time.perf_counter()
    x = 0
    for i in range(2000000):
        x += i
    return time.perf_counter() - t


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main(argv):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources under %s/src/main/scala/graft: run from a checkout of the repo"
             % ROOT)
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail("benchmark data missing: %s" % DATA)
    bench = bench_config()
    bound = max(m["bound"] for m in bench["end_to_end"])
    built = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    out = {"config": {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, "nproc": os.cpu_count(),
                      "data": DATA_NAME, "commit": git_commit(), "loadavg_before": loadavg(),
                      "cpu_probe_s_before": cpu_probe_s()}}
    jiffies0 = cpu_jiffies()
    log = OpLog()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, lambda *_: (Jvm.kill_all(), sys.exit(3)))
    signal.alarm(RUN_TIMEOUT)
    t_start = time.perf_counter()
    out["timeline"] = {}
    try:
        runner = run_pipeline if args.workload == "pipeline" else run_wire
        setup_s, mem, traced = runner(args, built, log, out)
    finally:
        Jvm.kill_all()
    out["config"]["loadavg_after"] = loadavg()
    out["config"]["cpu_probe_s_after"] = cpu_probe_s()
    busy, steal = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
    out["config"]["steal_share"] = steal / max(1, busy + steal)

    metrics, detail = e2e(args.workload, log, "measure", setup_s, mem)
    cpu = out["cpu1"] - out["cpu0"]
    wall = detail["wall_s"]
    detail["client_cpu_s"] = cpu
    detail["client_cpu_share"] = cpu / wall
    detail["client_cpu_flag"] = cpu / wall > bound
    detail["failed_ratio"] = log.failed / log.attempted
    detail["failures"] = log.failures[:20]
    prev, detail["timeline_s"] = t_start, {}
    for k, t in sorted(out["timeline"].items(), key=lambda kv: kv[1]):
        detail["timeline_s"][k], prev = t - prev, t
    if args.trace:
        t_metrics, t_detail = e2e(args.workload, log, "traced", setup_s, mem)
        trace_file, files = traced
        layers = tracing.per_layer(args.workload, log, trace_file, files, metrics,
                                   t_metrics, detail["read_ms_p50"], os.cpu_count())
        detail["traced"] = t_detail
        # every layer, also those BENCHMARK.json does not list because no
        # listed workload moves them (write.* moves on ingest only)
        detail["per_layer"] = {n: v for n, (v, _) in layers.items()}
        names = [m["name"] for m in bench["per_layer"]]
        result_metrics = {n: {"value": layers[n][0], "unit": layers[n][1]} for n in names}
    else:
        result_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                          for m in bench["end_to_end"]}
    print(json.dumps({"config": out["config"], "detail": detail}))
    print(json.dumps({"correct": log.failed == 0, "attempted": log.attempted,
                      "failed": log.failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
