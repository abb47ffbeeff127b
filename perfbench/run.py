#!/usr/bin/env python3
"""End-to-end benchmark of the engine: DV3F ingest, an analyst query mix
and corpus curation, each in a fresh JVM on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--capture <file>]

Run from the repository root. The first run builds the engine and the
harness from source into .bench_build/ (keyed by a hash of the sources);
later runs reuse that build. Every run gets its own run directory (java
tmpdir, warehouse, SPARK_LOCAL_DIRS, generated inputs) under
.bench_build/runs/, deleted when the run ends.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). The lines before it carry the run
record: workload-specific figures and host-noise evidence. A traced run
also writes its span capture (default .bench_build/captures/); compare
two captures with perfbench/layerdiff.py.

Exit codes: 0 all answers right, 1 a wrong answer or a failed operation,
2 the run could not start (no sources, build failure, no record), 3 the
JVM ran past its time limit (a set-up allowance plus a multiple of
--seconds, counted from the JVM's launch).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dv3f_ingest", "query_mix")
# The JVM's time limit: set-up (JVM start, inputs, warm-up; 30-50 s on
# 4 cores) gets a fixed allowance, the timed loops a multiple of --seconds
# (they run to the end of a pass and a minimum number of operations).
SETUP_ALLOWANCE_S = 130
LIMIT_PER_SECOND = 4
TIMEOUT_EXIT = 3
# Builds kept side by side, so runs of two source trees in one checkout
# do not rebuild each other away.
KEEP_BUILDS = 3
# A fixed heap size, so the peak RSS does not follow the collector's
# run-to-run heap resizing.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss16m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def steal_s():
    """CPU time the hypervisor gave to other guests (all CPUs), seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    """The jar directory the repository's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")


def sources(top, exts):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(exts)]
    return sorted(out)


def build():
    main_src = os.path.join(ROOT, "src", "main")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(os.path.join(main_src, "scala")):
        fail("no engine sources under src/main/scala: run from the repository root")
    jars = spark_jars()
    engine = sources(main_src, (".scala", ".java"))
    resources = sources(os.path.join(main_src, "resources"), ("",))
    harness = sources(bench_src, (".scala",))
    h = hashlib.sha256()
    for f in engine + resources + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    ok = os.path.join(out, "ok")
    if os.path.exists(ok):
        os.utime(ok)   # marks the build as recently used
        return out, jars
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    old = [os.path.join(BUILD, d) for d in os.listdir(BUILD) if d.startswith("build-")]
    old.sort(key=lambda d: os.path.getmtime(os.path.join(d, "ok"))
             if os.path.exists(os.path.join(d, "ok")) else 0)
    for d in old[:max(0, len(old) - (KEEP_BUILDS - 1))]:
        shutil.rmtree(d, ignore_errors=True)
    classes = os.path.join(out, "classes")
    bench = os.path.join(out, "bench-classes")
    os.makedirs(classes)
    os.makedirs(bench)
    scalac = ["java", "-Xss16m", "-Xmx2g", "-cp",
              os.pathsep.join(os.path.join(jars, j) for j in os.listdir(jars)
                              if re.match(r"scala-(compiler|library|reflect)-", j)),
              "scala.tools.nsc.Main", "-nowarn"]
    cp = os.path.join(jars, "*")
    t = time.time()
    steps = [
        scalac + ["-classpath", cp, "-d", classes] + engine,
        ["javac", "-nowarn", "-d", classes, "-cp", classes + os.pathsep + cp]
        + [f for f in engine if f.endswith(".java")],
        scalac + ["-classpath", classes + os.pathsep + cp, "-d", bench] + harness,
    ]
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("build failed:\n" + r.stdout[-4000:])
    rdir = os.path.join(main_src, "resources")
    if os.path.isdir(rdir):
        shutil.copytree(rdir, classes, dirs_exist_ok=True)
    open(ok, "w").write("ok\n")
    log(f"built engine and harness in {time.time() - t:.1f} s")
    return out, jars


# ------------------------------------------------------- query-mix tables

def gen_tables(seed, out):
    """TPC-H-style tables plus events, documents and embeddings, shaped
    like the repository's sf0.01 test data (the layout SparkEntry queries
    and their DuckDB oracles expect)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        a, b = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_ev, n_docs = 10000, 500
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": pa.array(range(n_cust), i64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {"s_suppkey": pa.array(range(n_supp), i64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
    noun = np.array(["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {"p_partkey": pa.array(range(n_part), i64),
                   "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                         noun[rng.integers(0, 8, n_part)]),
                   "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                   "p_type": types[rng.integers(0, 6, n_part)],
                   "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": pa.array(range(n_ord), i64),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                     "o_totalprice": money(1000, 500000, n_ord),
                     "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
                     "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    write("events", {"event_id": pa.array(range(n_ev), i64),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, 150, n_ev), i64),
                     "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                         rng.integers(0, 5, n_ev)],
                     "value": money(0.01, 490.02, n_ev),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(("a the key agg row scan slow fast table value part hash merge batch "
                      "spark line sort window join small big order group query data column "
                      "filter customer stream vector").split())
    # The ingest gate screens a batch (ids = 0 mod 10, plus the engine's own
    # re-crawled copies of ids = 5 mod 20) against the rest of the corpus.
    # Planted in the batch: exact and near (one word replaced) copies of
    # corpus documents; planted in the corpus: exact copies, which dedup
    # must drop, and near copies that give the similarity graph its edges.
    planted = {"batch_exact": [], "batch_near": [], "corpus_exact": []}
    texts = []

    def corpus_doc(below, min_words=0):
        while True:
            j = int(rng.integers(0, below))
            if j % 10 and texts[j].count(" ") >= min_words:
                return j
    for i in range(n_docs):
        roll = rng.random()
        if i >= 100 and i % 10 == 0 and roll < 0.25:
            planted["batch_exact"].append(i)
            texts.append(texts[corpus_doc(i)])
        elif i >= 100 and i % 10 == 0 and roll < 0.5:
            words = texts[corpus_doc(i, 40)].split()
            k = int(rng.integers(0, len(words)))
            words[k] = "vector" if words[k] == "dup" else "dup"
            planted["batch_near"].append(i)
            texts.append(" ".join(words))
        elif i >= 100 and i % 10 and i % 20 != 7 and roll < 0.05:
            planted["corpus_exact"].append(i)
            texts.append(texts[corpus_doc(i)])
        elif i >= 40 and i % 20 == 7:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write("documents", {"doc_id": pa.array(range(n_docs), i64), "text": texts,
                        "lang": langs[rng.integers(0, len(langs), n_docs)],
                        "source": [f"src{i % 20}" for i in range(n_docs)],
                        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_docs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {"vec_id": pa.array(range(n_docs), i64),
                         "embedding": pa.array(list(emb.astype(np.float32)),
                                               pa.list_(pa.float32())),
                         "label": pa.array(rng.integers(0, 10, n_docs), i32)})
    planted["recrawled"] = [i + 1000000 for i in range(n_docs) if i % 20 == 5]
    planted["docs"] = n_docs
    planted["tokens"] = sum(len(t.split()) for t in texts)
    planted["chars"] = sum(len(t) for t in texts)
    return planted


def oracle_check(tables, answers, oracle):
    """Compare each dumped first answer with DuckDB through the
    repository's oracle gate (tools/check_oracle.py: same tables, same
    normalization, same comparison); its per-query lines go to stderr.
    Returns failures."""
    import contextlib
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True   # leaves no __pycache__ in tools/
    import check_oracle
    with open(os.path.join(answers, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    with contextlib.redirect_stdout(sys.stderr):
        rc = check_oracle.main(tables, answers)
    return [] if rc == 0 else ["answers differ from the DuckDB oracle (FAIL lines above)"]


def curation_check(answers, planted, bound):
    """The corpus generator's own answers: planted exact copies are
    flagged dup_exact, planted near copies are flagged as duplicates at
    least at the declared recall, planted corpus copies do not survive
    dedup, and packing and the shard manifest conserve documents, tokens
    and characters. Returns (failures, near-dup recall)."""
    import pandas as pd

    def answer(q):
        return pd.read_parquet(os.path.join(answers, q))
    bad = []
    verdict = dict(zip(*[answer("q_ingest_gate_e2e")[c] for c in ("doc_id", "verdict")]))
    missed = [i for i in planted["batch_exact"] + planted["recrawled"]
              if verdict.get(i) != "dup_exact"]
    if missed:
        bad.append(f"planted exact copies not flagged dup_exact: {missed[:5]}")
    # a near copy can coincide with another corpus document's text, which
    # makes dup_exact the right verdict: any duplicate verdict is a hit
    near = planted["batch_near"]
    hits = sum(1 for i in near if verdict.get(i, "").startswith("dup_"))
    recall = hits / len(near) if near else 1.0
    if recall < bound:
        bad.append(f"near-dup recall {recall:.3f} < {bound}")
    kept = set(answer("q_dedup_survivors")["doc_id"])
    leaked = [i for i in planted["corpus_exact"] if i in kept]
    if leaked:
        bad.append(f"planted corpus copies survived dedup: {leaked[:5]}")
    pack, man = answer("q_pack_sequences_sharded"), answer("q_shard_manifest")
    if (pack["n_docs"].sum(), pack["bin_tokens"].sum()) != (planted["docs"], planted["tokens"]):
        bad.append("packing does not conserve documents and tokens")
    if (man["n_docs"].sum(), man["n_chars"].sum()) != (planted["docs"], planted["chars"]):
        bad.append("shard manifest does not conserve documents and characters")
    return bad, recall


# -------------------------------------------------------------------- run

def recall_bound(spec):
    why = next(w["why"] for w in spec["workloads"] if w["name"] == "query_mix")
    m = re.search(r"near-dup recall >= ([0-9.]+)", why)
    if not m:
        fail("BENCHMARK.json: the query_mix workload must declare 'near-dup recall >= <x>'")
    return float(m.group(1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture")
    a = ap.parse_args()
    started = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json: run from the repository root")
    spec = json.load(open(spec_path))
    out, jars = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    proc = None

    def stop(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        host_prep = []
        if a.workload == "query_mix":
            for i in range(3):   # set up several times, report the median
                d = os.path.join(run_dir, f"tables_{i}")
                t = time.time()
                planted = gen_tables(a.seed, d)
                host_prep.append(time.time() - t)
            os.rename(d, os.path.join(run_dir, "tables"))
            for i in range(2):
                shutil.rmtree(os.path.join(run_dir, f"tables_{i}"))
        load_before, steal_before = os.getloadavg(), steal_s()
        record = os.path.join(run_dir, "record.json")
        cmd = ["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", os.pathsep.join([os.path.join(out, "bench-classes"),
                                    os.path.join(out, "classes"), os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--record", record,
            "--cores", str(os.cpu_count())]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
                   SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        logf = open(os.path.join(run_dir, "jvm.log"), "w")
        limit = SETUP_ALLOWANCE_S + LIMIT_PER_SECOND * a.seconds
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past its {limit:.0f} s time limit", TIMEOUT_EXIT)
        if not os.path.isfile(record):
            logf.close()
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail(f"JVM exited with {proc.returncode} and no record")
        rec = json.load(open(record))
        problems = list(rec.get("errors", []))
        if a.workload == "query_mix" and "oracle" in rec:
            t = time.time()
            problems += oracle_check(os.path.join(run_dir, "tables"),
                                     os.path.join(run_dir, "answers"), rec["oracle"])
            rec["oracle_check_s"] = time.time() - t
            bad, recall = curation_check(os.path.join(run_dir, "answers"), planted,
                                         recall_bound(spec))
            problems += bad
            rec.setdefault("named", {})["near_dup_recall"] = {"value": recall, "unit": "ratio"}
        if "metrics" not in rec:
            problems.append("no metrics recorded")
        correct = not problems and rec["failed"] == 0
        if problems:
            for p in problems:
                log("FAIL " + p)

        metrics = {}
        if "metrics" in rec:
            if host_prep:
                rec["metrics"]["setup_s"]["value"] += statistics.median(host_prep)
            if a.trace:
                layers = rec.get("layers", {})
                unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
                if unknown:
                    problems.append(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
                    correct = False
                metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                           for m in spec["per_layer"]}
            else:
                metrics = {m["name"]: rec["metrics"][m["name"]] for m in spec["end_to_end"]}
        evidence = {k: rec.get(k) for k in (
            "nproc", "cores", "loadavg_before", "loadavg_after", "task_cpu_s",
            "task_cpu_s_timed", "timed_s", "tasks", "tail", "prepare_ms",
            "warmup_ms", "jvm_ready_ms", "session_start_ms", "ops_by_class", "op_ms",
            "first_answer_ms")}
        evidence["host_prepare_s"] = host_prep
        evidence["oracle_check_s"] = rec.get("oracle_check_s")
        evidence["wall_s"] = time.time() - started
        evidence["host_loadavg_at_launch"] = list(load_before)
        steal_after = steal_s()
        if steal_before is not None and steal_after is not None:
            evidence["cpu_steal_s"] = steal_after - steal_before
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "named": rec.get("named", {}), "host": evidence}))
        if a.trace and "spans" in rec:
            cap = a.capture or os.path.join(BUILD, "captures", f"{a.workload}-s{a.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(cap)), exist_ok=True)
            json.dump({"workload": a.workload, "seed": a.seed, "layers": rec.get("layers", {}),
                       "spans": rec["spans"], "host": evidence}, open(cap, "w"))
            log(f"span capture: {cap}")
        print(json.dumps({"correct": correct, "attempted": rec.get("attempted", 1),
                          "failed": rec.get("failed", 1), "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
