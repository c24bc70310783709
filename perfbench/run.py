#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/scala) with the Scala
compiler shipped in Spark's jars into .bench_build/perfbench; later runs
reuse the classes while the sources are unchanged.

Every run starts fresh JVMs (session memos would otherwise let later
operations skip work), makes its inputs from the seed, repeats the
workload's timed job for --seconds, and checks every result against an
independent oracle (plain driver-side code for the PageRank kernel and the
partition, tools/check_oracle.py for the gate query results). The last
stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it records the host and what the program
emitted itself (counter deltas, checkpoint ledger).
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
# Derived pr-dense graphs by seed and size, and the untraced job_s history;
# both are dropped whenever the sources change.
INPUTS = os.path.join(BUILD, "inputs")
HISTORY = os.path.join(BUILD, "untraced_job_s.json")
KEEP_INPUTS = 6
KEEP_HISTORY = 50

# Input sizes and job parameters. `reps`: set-up repetitions per run (input
# tables for gate-queries, graph load and oracle for pr-dense), for the
# median behind setup_s.
WORKLOADS = {
    "pr-dense": dict(convs=1500, turns=600, iters=50, reps=3),
    "gate-queries": dict(users=15, events=1000, docs=500, vecs=500, reps=3),
}

END_TO_END = [("setup_s", "s"), ("job_s", "s")]

SPAN_MEASURES = [("s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("task_s", "s"), ("driver_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("gc_s", "s")]
GATE_MEASURES = [("s", "s"), ("jobs", "count"), ("task_s", "s"),
                 ("driver_s", "s")]
SPANS = ["csr", "kernel", "kernel_lo"]
GATE_SPANS = ["gate." + f for f in
              ("graph", "analytics", "partition", "separator", "text", "ann",
               "other")]
PER_LAYER = (
    [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_MEASURES]
    + [(f"{s}.{m}", u) for s in GATE_SPANS for m, u in GATE_MEASURES]
    + [("kernel.shuffle_mb_per_iter", "MB"), ("kernel.util", "ratio"),
       ("kernel.teps", "edges/s"), ("kernel.iter_ms_p50", "ms"),
       ("kernel.iter_ms_p90", "ms"), ("kernel_lo.iter_ms_p50", "ms"),
       ("kernel.scaling_eff", "ratio"),
       ("gate.jobs", "count"), ("gate.util", "ratio"),
       ("gate.query_s_p50", "s"), ("gate.query_s_p80", "s"),
       ("gate.partition.edge_cut", "weight"),
       ("gate.partition.imbalance", "ratio")]
    + [(f"ckpt.{m}", u) for m, u in GATE_MEASURES]
    + [("ckpt.snapshots", "count"), ("ckpt.write_mb", "MB"),
       ("jvm.peak_rss_mb", "MB"),
       ("trace.unattributed_jobs", "count"), ("trace_overhead", "ratio")])

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
# A fixed young generation and no adaptive resizing, so that the collector's
# sizing decisions do not differ between runs.
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn256m", "-Xms1g"]
JVM_TIMEOUT_S = 150
CDS = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]


class BenchError(Exception):
    pass


def read(path):
    with open(path) as f:
        return f.read()


def find_spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase := file\("(.+?)"\)',
                                          read(sbt))
    return m.group(1) if m else ""


SPARK_JARS = find_spark_jars()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(BENCH, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    jars = sorted(os.path.join(SPARK_JARS, f) for f in os.listdir(SPARK_JARS)
                  if f.endswith(".jar"))
    return os.pathsep.join([JAR] + jars)


def build():
    """Compile program and benchmark into one jar, once per source state,
    and dump a class-data-sharing archive of the classes a run loads (it
    roughly halves JVM and Spark start-up on every later run)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources (src/main/scala) in this checkout")
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"no Spark jars at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return stamp
    for p in (CLASSES, JAR, CDS_ARCHIVE, stamp_file, INPUTS, HISTORY):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(CLASSES)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-cp", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in os.walk(CLASSES):
            for f in files:
                z.write(os.path.join(d, f),
                        os.path.relpath(os.path.join(d, f), CLASSES))
    log(f"compiled in {time.time() - t0:.1f} s; dumping the CDS archive")
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    try:
        jvm(train, "selftest", 2, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], {})
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(CDS_ARCHIVE):
        raise BenchError("the CDS archive was not written")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


# ---------------------------------------------------------------- host

def host_info(stamp):
    nproc = len(os.sched_getaffinity(0))
    mem_kb = next(int(line.split()[1]) for line in read("/proc/meminfo").splitlines()
                  if line.startswith("MemTotal:"))
    java = subprocess.run(["java", "-version"], stderr=subprocess.PIPE,
                          text=True).stderr.splitlines()[0]
    spark = [f for f in os.listdir(SPARK_JARS) if f.startswith("spark-core_")]
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    n = nproc // 4
    return {
        "nproc": nproc, "threads_4n": nproc, "threads_n": n,
        "scaling": ("N = nproc/4 = %d" % n) if n >= 1 else
                   {"skipped": f"nproc {nproc} < 4: no N >= 1 thread leg"},
        "jvm_heap": HEAP,
        "mem_total_mb": mem_kb // 1024,
        "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
        "jdk": java,
        "spark": spark[0][len("spark-core_"):-len(".jar")] if spark else None,
        "git_commit": commit,
        "source_sha256": stamp,
    }


# ---------------------------------------------------------------- JVM legs

def jvm(run_dir, mode, cores, flags, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"] + GC +
           [f"-Djava.io.tmpdir={tmp}"] + flags + opens +
           ["-cp", classpath(), "perfbench.Main", f"mode={mode}",
            f"dir={run_dir}", f"cores={cores}"] +
           [f"{k}={v}" for k, v in args.items()])
    log_path = os.path.join(run_dir, f"{mode}.log")
    with open(log_path, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=out,
                               stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{mode} leg timed out; see {log_path}")
    shutil.copy(log_path, os.path.join(BUILD, f"last-{mode}.log"))
    result = os.path.join(run_dir, f"result-{mode}.json")
    if r.returncode != 0 or not os.path.exists(result):
        tail = read(log_path)[-3000:]
        raise BenchError(f"{mode} leg failed (exit {r.returncode}):\n{tail}")
    return json.loads(read(result))


# ---------------------------------------------------------------- gate tables

WORDS = ("the a of and to in data query join table row sort hash scan merge "
         "part window group filter stream batch value key order small fast "
         "slow spark customer line graph edge vertex rank label cut tool "
         "turn user agent").split()


def gate_tables(out, seed, users, events, docs, vecs):
    """The gate queries' tables (sf0.001 shapes), written as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rnd = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    t0 = 1704067200 * 10**6
    ts = sorted(t0 + rnd.randrange(30 * 86400 * 10**6) for _ in range(events))
    kinds = ["signup", "click", "error", "purchase", "view"]
    pq.write_table(pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(users) for _ in range(events)],
                            pa.int64()),
        "event_type": [rnd.choice(kinds) for _ in range(events)],
        "value": [round(rnd.uniform(1, 200), 2) for _ in range(events)],
        "props": ['{"k": %d}' % rnd.randrange(100) for _ in range(events)],
    }), os.path.join(out, "events.parquet"))
    texts = []
    for i in range(docs):
        if i > 10 and rnd.random() < 0.1:  # near-duplicate of an earlier doc
            w = rnd.choice(texts).split(" ")
            w[rnd.randrange(len(w))] = rnd.choice(WORDS)
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rnd.choice(WORDS)
                                  for _ in range(rnd.randint(20, 80))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(["en", "de", "es", "fr", "zh"]) for _ in texts],
        "source": ["src%d" % rnd.randrange(20) for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    centers = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels = [rnd.randrange(10) for _ in range(vecs)]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array([[c + rnd.gauss(0, 0.3) for c in centers[lab]]
                               for lab in labels], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    n_cust, n_ord = 150, 1500
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(["BUILDING", "FURNITURE", "MACHINERY"])
                         for _ in range(n_cust)],
    }), os.path.join(out, "customer.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(n_cust) for _ in range(n_ord)],
                              pa.int64()),
        "o_orderstatus": [rnd.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rnd.uniform(1000, 400000), 2)
                         for _ in range(n_ord)],
        "o_orderdate": pa.array([(852076800 + rnd.randrange(7 * 365) * 86400)
                                 * 10**6 for _ in range(n_ord)],
                                pa.timestamp("us")),
        "o_orderpriority": [rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"])
                            for _ in range(n_ord)],
    }), os.path.join(out, "orders.parquet"))


def gate_oracle(run_dir, oracle_sql):
    """Failed (pass, result) checks of tools/check_oracle.py, run on each
    pass's results as graft.Verify lays them out (oracle_sql.json next to
    one directory per result)."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    out = os.path.join(run_dir, "out")
    bad = {}
    for p in sorted(os.listdir(out)):
        d = os.path.join(out, p)
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump(oracle_sql, f)
        r = subprocess.run([sys.executable, tool,
                            os.path.join(run_dir, "tables"), d],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=JVM_TIMEOUT_S)
        ok = {m.group(1) for m in re.finditer(r"^OK (\S+)", r.stdout, re.M)}
        for name in oracle_sql:
            if name not in ok:
                m = re.search(rf"^(\S+) {re.escape(name)}\b.*$", r.stdout, re.M)
                bad[f"{p}/{name}"] = m.group(0) if m else "not checked"
    return bad


def corrupt_component(result_dir):
    """Relabel one vertex of a q_cc result (benchmark self-test)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in os.listdir(result_dir):
        if f.endswith(".parquet"):
            path = os.path.join(result_dir, f)
            t = pq.read_table(path).to_pydict()
            t["component"][0] += 1
            pq.write_table(pa.table(t), path)
            return


# ---------------------------------------------------------------- run

def input_dir(workload, seed, params):
    """Cache directory of a derived input; the oldest beyond KEEP_INPUTS
    are removed."""
    os.makedirs(INPUTS, exist_ok=True)
    key = "-".join([workload, str(seed)] +
                   [f"{k}{v}" for k, v in sorted(params.items())])
    old = sorted((os.path.getmtime(os.path.join(INPUTS, d)), d)
                 for d in os.listdir(INPUTS) if d != key)
    for _, d in old[:max(0, len(old) - KEEP_INPUTS + 1)]:
        shutil.rmtree(os.path.join(INPUTS, d), ignore_errors=True)
    d = os.path.join(INPUTS, key)
    os.makedirs(d, exist_ok=True)
    os.utime(d)
    return d


def run(workload, seed, seconds, trace, inject="", sizes=None):
    stamp = build()
    host = host_info(stamp)
    params = dict(WORKLOADS[workload], **(sizes or {}))
    reps = params.pop("reps")
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = dict(workload=workload, seed=seed, seconds=seconds,
                trace=int(trace), reps=reps, **params)
    if inject:
        args["inject"] = inject
    if workload == "pr-dense":
        args["input"] = input_dir(workload, seed,
                                  dict(convs=params["convs"],
                                       turns=params["turns"]))
    try:
        if workload == "gate-queries":
            walls, cpus = [], []
            for _ in range(reps):
                t0, c0 = time.time(), time.process_time()
                gate_tables(os.path.join(run_dir, "tables"), seed,
                            params["users"], params["events"], params["docs"],
                            params["vecs"])
                walls.append(time.time() - t0)
                cpus.append(time.process_time() - c0)
        hi = jvm(run_dir, "hi", host["threads_4n"], CDS, args)
        attempted, failed = hi["attempted"], hi["failed"]
        v, records = hi["values"], hi["records"]
        if workload == "gate-queries":
            v["input_s"] = statistics.median(walls)
            v["input_cpu_s"] = statistics.median(cpus)
            if inject == "component":
                corrupt_component(os.path.join(run_dir, "out", "pass0", "q_cc"))
            bad = gate_oracle(run_dir, records.pop("oracle_sql"))
            for q, why in bad.items():
                log(f"FAIL {q}: {why}")
            failed += len(bad)
            records["oracle_mismatch"] = bad
        if trace and workload == "pr-dense" and host["threads_n"] >= 1:
            lo = jvm(run_dir, "lo", host["threads_n"], CDS,
                     dict(iters=params["iters"], seconds=seconds, trace=1))
            attempted += lo["attempted"]
            failed += lo["failed"]
            # the N leg's own set-up and memory stay out of this run's values
            v.update((k, x) for k, x in lo["values"].items()
                     if k.startswith("kernel_lo."))
            v["trace.unattributed_jobs"] += lo["values"]["trace.unattributed_jobs"]
            v["kernel.scaling_eff"] = (v["kernel_lo.iter_ms_p50"]
                                       / v["kernel.iter_ms_p50"]
                                       / (host["threads_4n"] / host["threads_n"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # untraced job_s of this source state (build() drops it on a change)
    past = json.loads(read(HISTORY)) if os.path.exists(HISTORY) else {}
    if past.get("stamp") != stamp:
        past = {"stamp": stamp}
    if trace:
        if "kernel.s" in v:
            v["kernel.shuffle_mb_per_iter"] = v["kernel.shuffle_mb"] / params["iters"]
            v["kernel.util"] = v["kernel.task_s"] / (v["kernel.s"] * host["threads_4n"])
        v["jvm.peak_rss_mb"] = v["peak_rss_mb"]
        # against the untraced runs of these sources in this checkout; 0
        # before any
        if past.get(workload):
            v["trace_overhead"] = v["job_s"] / statistics.median(past[workload]) - 1
        metrics = {n: {"value": v.get(n) or 0.0, "unit": u} for n, u in PER_LAYER}
    else:
        if not inject and not sizes:
            past[workload] = (past.get(workload, []) + [v["job_s"]])[-KEEP_HISTORY:]
            with open(HISTORY, "w") as f:
                json.dump(past, f)
        for x in ("", "_cpu"):
            v[f"setup{x}_s"] = sum(v.get(f"{p}{x}_s", 0.0)
                                   for p in ("session", "warmup", "input"))
        metrics = {n: {"value": v[n], "unit": u} for n, u in END_TO_END}
    detail = {"workload": workload, "seed": seed, "host": host,
              "values": v, "program": records}
    return detail, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def finite(x):
    """`x` with NaN and infinities (the ledger writes NaN residuals) as
    null, so that the detail line is strict JSON."""
    if isinstance(x, dict):
        return {k: finite(v) for k, v in x.items()}
    if isinstance(x, list):
        return [finite(v) for v in x]
    if isinstance(x, float) and (x != x or x in (float("inf"), float("-inf"))):
        return None
    return x


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("rank", "component", "part"),
                    default="",
                    help="corrupt one result before its check (self-test)")
    ap.add_argument("--size", action="append", default=[], metavar="KEY=N",
                    help="override an input size (self-test)")
    a = ap.parse_args(argv)
    # on SIGTERM, unwind so that subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    sizes = dict((k, int(v)) for k, v in (s.split("=", 1) for s in a.size))
    try:
        detail, result = run(a.workload, a.seed, a.seconds, bool(a.trace),
                             a.inject, sizes)
        print(json.dumps(finite(detail)))
        print(json.dumps(result))
    except BenchError as e:
        log(str(e))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
