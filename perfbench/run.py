#!/usr/bin/env python3
"""Benchmark of the assembled nextbus2pg program and the registered lanes.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):
  poll_steady   GraftApp's poll loop: small polls with re-deliveries, a
                simulated midnight (dimension refresh) after every 4 polls
  poll_backlog  GraftApp catching up after an outage: polls of 20k events
                (not listed in BENCHMARK.json; run it by hand)
  lane_sweep    one lane from each of 33 operator modules, whole warm passes

Run from the repository root. The first run builds the program and the
benchmark with sbt; later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed before anything is timed.
The last line of stdout is the result object; the line before it is the
quiet-host guard. Everything a run writes stays under perfbench/.work/.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA_POLL = os.path.join(HERE, "data", "sf0.1")
DATA_LANES = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_counts.json")
DEADLINE_S = 160  # for the JVM, counted from the end of the build

SETUPS = 3
SETUP_EVENTS = (250, 350)  # the cold first poll of every set-up is a small one
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z

# The work of a run is fixed by --seconds: round(seconds / cycle_s) whole
# cycles, where cycle_s is a cycle's wall time on a 4-core host when the
# benchmark was defined. A faster program then does the same work in less
# time, rather than more work against a fact table grown further.
WORKLOADS = {
    "poll_steady": {"kind": "polls", "polls_per_cycle": 4, "rollover": 1, "cycle_s": 5.5,
                    "new": (250, 350), "redeliver": 0.2, "dup": 0.0, "step_s": 60},
    "poll_backlog": {"kind": "polls", "polls_per_cycle": 2, "rollover": 0, "cycle_s": 4.0,
                     "new": (20000, 20000), "redeliver": 0.0, "dup": 0.02, "step_s": 600},
    "lane_sweep": {"kind": "lanes", "cycle_s": 8.5},
}

E2E = [("setup_s", "s"), ("op_ms", "ms"), ("cycle_s", "s"), ("retained_mb", "MB")]


# ---------------------------------------------------------------- inputs

def customer_keys():
    import pyarrow.parquet as pq
    return sorted(pq.read_table(os.path.join(DATA_POLL, "customer.parquet"),
                                columns=["c_custkey"]).column(0).to_pylist())


def gen_polls(cfg, seed, out_dir, n_polls):
    """Writes SETUPS set-up drops and n_polls poll drops, each a directory
    holding one parquet file of (event_id, ts, user_id, value)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    keys = customer_keys()
    rng.shuffle(keys)  # which customers are hot depends on the seed
    cum, acc = [], 0.0
    for r in range(len(keys)):
        acc += 1.0 / (r + 1) ** 1.1
        cum.append(acc)
    unknown_base = max(keys) + 1
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                        ("user_id", pa.int64()), ("value", pa.float64())])
    names = [f"setup_{k:02d}" for k in range(SETUPS)] + [f"poll_{i:05d}" for i in range(n_polls)]
    next_id, prev = 1, []
    for i, name in enumerate(names):
        base = T0_US + i * cfg["step_s"] * 1_000_000
        n = rng.randint(*(SETUP_EVENTS if i < SETUPS else cfg["new"]))
        users = rng.choices(keys, cum_weights=cum, k=n)
        rows = []
        for j in range(n):
            # 3% of events name a vehicle with no customer row (LEFT JOIN)
            u = unknown_base + rng.randrange(1000) if rng.random() < 0.03 else users[j]
            # out of order, but only within half the 10-minute dedup horizon
            ts = base - rng.randrange(300_000_000)
            rows.append((next_id + j, ts, u, round(rng.uniform(0, 100), 6)))
        next_id += n
        rows += rng.sample(prev, int(len(prev) * cfg["redeliver"]))
        rows += rng.sample(rows, int(n * cfg["dup"]))
        rng.shuffle(rows)
        prev = rows[:]
        cols = list(zip(*rows))
        d = os.path.join(out_dir, name)
        os.makedirs(d)
        pq.write_table(pa.table([pa.array(c, t) for c, t in zip(cols, schema.types)], schema=schema),
                       os.path.join(d, "part-0.parquet"))
    return names


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


# ---------------------------------------------------------------- build + jvm

def fingerprint():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*"]
    for base in (ROOT, HERE):
        for pat in pats:
            for p in sorted(glob.glob(os.path.join(base, pat), recursive=True)):
                if os.path.isfile(p):
                    h.update(p.encode())
                    with open(p, "rb") as f:
                        h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def build():
    """Compiles the program and the benchmark; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no program source here ({need} missing)")
    stamp = os.path.join(WORK, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile", "export Runtime/fullClasspath"],
                         cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=850)
    finally:
        reap(p)
    cp = [l for l in out.splitlines() if "perfbench" in l and os.pathsep in l and "[" not in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def reap(p, grace=30):
    """Ends the process group `p` leads and waits until none of it is left."""
    deadline = time.time() + grace
    while True:
        try:
            os.killpg(p.pid, signal.SIGKILL if time.time() > deadline else 0)
        except ProcessLookupError:
            break
        if p.poll() is None:
            try:
                p.wait(timeout=0.2)
            except subprocess.TimeoutExpired:
                pass
        else:
            time.sleep(0.2)
    p.wait()


OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classpath, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        rc = "interrupted"
        try:
            rc = p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            reap(p, grace=30 if isinstance(rc, int) else 0)
    if rc != 0:
        # kept past the next run, which replaces run_dir
        shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(WORK, "failed-jvm.log"))
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc}); log in {WORK}/failed-jvm.log")


# ---------------------------------------------------------------- guard

def other_jvms():
    """Other running graft or Spark JVMs: a timed leg must run alone."""
    mine = {os.getpid()}
    found = []
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(d))
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                argv = f.read().split(b"\0")
            with open(os.path.join(d, "stat")) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if pid in mine or ppid in mine or not argv or not argv[0].endswith(b"java"):
            continue
        line = b" ".join(argv)
        if b"spark" in line or b"graft" in line or b"sbt" in line:
            found.append(pid)
    return found


def cpu_busy(interval=0.5):
    """Share of all CPUs busy over a short interval."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]  # total, idle + iowait
    t0, i0 = sample()
    time.sleep(interval)
    t1, i1 = sample()
    return 1 - (i1 - i0) / max(t1 - t0, 1)


def steal_ticks():
    """(steal, total) CPU ticks so far: time the hypervisor gave to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def guard_sample():
    """Taken while none of this run's processes is busy."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"load1": load, "cpu_busy": round(cpu_busy(), 3), "other_jvms": other_jvms()}


# ---------------------------------------------------------------- checks

def check_fact(run_dir, landed):
    """The committed fact table must equal the declarative replay: distinct
    landed events LEFT JOIN customer, by count and order-independent hash."""
    import duckdb
    incoming = os.path.join(run_dir, f"app{SETUPS - 1}", "incoming")
    files = [os.path.join(incoming, d, "part-0.parquet") for d in landed]
    digest = ("SELECT count(*), count(DISTINCT event_id), "
              "sum(hash(event_id, ts_us, user_id, value, c_mktsegment)::HUGEINT) FROM ")
    con = duckdb.connect()
    replay = con.execute(
        digest + "(SELECT e.*, c.c_mktsegment FROM "
        "(SELECT DISTINCT event_id, epoch_us(ts) AS ts_us, user_id, value FROM read_parquet(?)) e "
        "LEFT JOIN read_parquet(?) c ON e.user_id = c.c_custkey)",
        [files, os.path.join(DATA_POLL, "customer.parquet")]).fetchone()
    fact = con.execute(digest + "read_parquet(?)",
                       [os.path.join(run_dir, "fact", "*.parquet")]).fetchone()
    return fact == replay and fact[0] == fact[1], {"fact": str(fact), "replay": str(replay)}


# ---------------------------------------------------------------- metrics

def op_ms(cfg, ops):
    """The typical operation: the median poll, which are alike, or the
    geometric mean over lanes, which differ by 30x and whose median
    jumps between neighbours in that spread."""
    if cfg["kind"] == "polls":
        return statistics.median(o["ms"] for o in ops)
    return statistics.geometric_mean(o["ms"] for o in ops)


def cycles(ops, size):
    """Summed wall of each complete run of `size` consecutive operations."""
    return [sum(o["ms"] for o in ops[i:i + size]) / 1e3
            for i in range(0, len(ops) - size + 1, size)]


def intervals_len(iv):
    total, end = 0.0, float("-inf")
    for s, e in sorted(iv):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(kids, roots):
    """Self time per span name under the given root spans: a span's
    duration minus the part its children cover."""
    out = {}

    def walk(s):
        ch = kids.get(s["id"], [])
        cover = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])) for c in ch]
        own = (s["end_ms"] - s["start_ms"]) - intervals_len([c for c in cover if c[1] > c[0]])
        out[s["name"]] = out.get(s["name"], 0.0) + own
        for c in ch:
            walk(c)

    for r in roots:
        walk(r)
    return out


def descendants(kids, root_id, name):
    out, stack = [], [root_id]
    while stack:
        for c in kids.get(stack.pop(), []):
            if c["name"] == name:
                out.append(c)
            stack.append(c["id"])
    return out


# every module whose public `queries` map registers lanes (perfbench/Lanes.scala)
MODULES = ["CoreRelational", "MergeOps", "Lookup", "ScalarFuncs", "Pipeline", "Analytics",
           "TextAnalysis", "Similarity", "DedupText", "StreamingOps", "XmlFeed", "TextFormats",
           "JdbcSource", "Multimodal", "Skew", "TemporalJoins", "DataPipeline", "BloomJoin",
           "IncrementalAgg", "MvRewrite", "Bpe", "JoinPrune", "Behavioral", "Graph", "Profiling",
           "Layout", "EntityResolution", "DedupIndex", "VectorIndexOps", "Scd", "Intervals",
           "Quality", "Geo", "HybridRetrieval"]


def per_layer_names():
    base = ["spark.jobs", "spark.job_ms", "spark.task_ms", "spark.gc_ms", "spark.shuffle_bytes",
            "spark.codegen_compiles", "catalyst.ms", "driver.gap_ms",
            "stream.lifecycle_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
            "stream.add_batch_ms", "stream.log_commit_ms", "stream.batches_per_poll",
            "stream.state_rows", "stream.dedup_kept_ratio", "stream.restarts",
            "source.listing_jobs", "source.landed_drops",
            "jdbc.merge_ms", "jdbc.rows_per_merge", "jdbc.new_row_ratio", "jdbc.fact_rows",
            "rollover.jobs", "rollover.dim_versions", "rollover.ms_p50",
            "self.op_ms", "self.stream_batch_ms", "self.jdbc_merge_ms", "self.spark_job_ms",
            "trace.op_ms", "jvm.peak_rss_mb"]
    for m in MODULES:
        base += [f"lanes.{m}.s", f"lanes.{m}.jobs"]
    return base


def layer_metrics(cfg, res, spans, main, rolls, lanes):
    m = dict.fromkeys(per_layer_names(), 0.0)
    n = len(main)

    def mean(key):
        return sum(o.get(key, 0) for o in main) / n

    for k in ("jobs", "job_ms", "task_ms", "gc_ms", "shuffle_bytes", "codegen_compiles"):
        m[f"spark.{k}"] = mean(k)
    m["catalyst.ms"] = mean("catalyst_ms")
    by_id = {s["id"]: s for s in spans}
    kids = children(spans)
    gaps, roots = [], []
    for o in main:
        root = by_id[o["span"]]
        roots.append(root)
        jobs = [(max(j["start_ms"], root["start_ms"]), min(j["end_ms"], root["end_ms"]))
                for j in descendants(kids, root["id"], "spark.job")]
        gaps.append(o["ms"] - intervals_len([j for j in jobs if j[1] > j[0]]))
    m["driver.gap_ms"] = sum(gaps) / n
    st = self_times(kids, roots)
    m["self.op_ms"] = st.get(main[0]["kind"], 0.0) / n
    m["self.stream_batch_ms"] = st.get("stream.batch", 0.0) / n
    m["self.jdbc_merge_ms"] = st.get("jdbc.merge", 0.0) / n
    m["self.spark_job_ms"] = st.get("spark.job", 0.0) / n
    m["trace.op_ms"] = op_ms(cfg, main)
    m["jvm.peak_rss_mb"] = res["rss_mb"]
    if main[0]["kind"] == "tick.poll":
        m["stream.lifecycle_ms"] = sum(o["ms"] - o["trigger_ms"] for o in main) / n
        for k in ("latest_offset_ms", "query_planning_ms", "add_batch_ms", "log_commit_ms"):
            m[f"stream.{k}"] = mean(k)
        m["stream.batches_per_poll"] = mean("batches")
        m["stream.state_rows"] = main[-1]["state_rows"]
        inp, kept = sum(o["input_rows"] for o in main), sum(o["kept_rows"] for o in main)
        m["stream.dedup_kept_ratio"] = kept / inp if inp else 0.0
        m["stream.restarts"] = sum(max(0, o["query_starts"] - 1) for o in main)
        m["source.listing_jobs"] = mean("listing_jobs")
        m["source.landed_drops"] = res["landed_drops"]
        merges = sum(o["merges"] for o in main)
        m["jdbc.merge_ms"] = sum(o["merge_ms"] for o in main) / merges if merges else 0.0
        m["jdbc.rows_per_merge"] = kept / merges if merges else 0.0
        m["jdbc.new_row_ratio"] = (res["fact_rows_end"] - res["fact_rows_start"]) / kept if kept else 0.0
        m["jdbc.fact_rows"] = res["fact_rows_end"]
        m["rollover.dim_versions"] = res["dim_versions"]
        if rolls:
            m["rollover.jobs"] = sum(o["jobs"] for o in rolls) / len(rolls)
            m["rollover.ms_p50"] = statistics.median(o["ms"] for o in rolls)
    for mod, per in lanes.items():
        m[f"lanes.{mod}.s"] = sum(statistics.median(o["ms"] for o in v) for v in per.values()) / 1e3
        m[f"lanes.{mod}.jobs"] = sum(statistics.median(o["jobs"] for o in v) for v in per.values())
    return m


def layer_unit(name):
    if name.endswith("_ms") or name.endswith(".ms") or name.endswith("ms_p50"):
        return "ms"
    if name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = WORKLOADS[a.workload]
    classpath = build()
    started = time.time()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n_cycles = max(1, round(a.seconds / cfg["cycle_s"]))
    common = ["--work", run_dir, "--cycles", str(n_cycles), "--trace", str(a.trace),
              "--setups", str(SETUPS)]
    if cfg["kind"] == "polls":
        gen_polls(cfg, a.seed, os.path.join(run_dir, "inputs"), n_cycles * cfg["polls_per_cycle"])
        args = ["--workload", "polls", "--data", DATA_POLL, "--inputs", os.path.join(run_dir, "inputs"),
                "--polls-per-cycle", str(cfg["polls_per_cycle"]), "--rollover", str(cfg["rollover"])]
    else:
        # the lanes read fixed tables in a fixed order, so the seed changes
        # nothing here: a seed-shuffled order moved lane times by itself
        args = ["--workload", "lanes", "--data", DATA_LANES,
                "--lanes", ",".join(sorted(load_expected()["counts"]))]

    g0 = guard_sample()
    s0 = steal_ticks()
    jvm(classpath, run_dir, args + common, DEADLINE_S - (time.time() - started))
    s1 = steal_ticks()
    g1 = guard_sample()
    steal = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    ops = res["ops"]
    main_kind = "tick.poll" if cfg["kind"] == "polls" else "lane"
    failed = sum(1 for o in ops if not o["ok"])
    attempted = len(ops) + SETUPS
    correct = True
    detail = {}
    lanes = {}
    cyc = []
    if "fatal" in res:
        sys.stderr.write(f"perfbench: run failed outside a timed operation: {res['fatal']}\n")
        shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(WORK, "failed-jvm.log"))
        failed += 1
        detail = {"fatal": res["fatal"]}
    elif cfg["kind"] == "polls":
        ok, detail = check_fact(run_dir, res["landed"])
        correct = ok and res["loop_ok"]
        cyc = cycles(ops, cfg["polls_per_cycle"] + cfg["rollover"])
    else:
        expected = load_expected()["counts"]
        for o in ops:
            if o["ok"] and o["rows"] != expected[o["name"]]:
                o["ok"] = False
                failed += 1
                sys.stderr.write(f"perfbench: lane {o['name']} counted {o['rows']}, "
                                 f"expected {expected[o['name']]}\n")
            if o["kind"] == "lane":
                lanes.setdefault(o["module"], {}).setdefault(o["name"], []).append(o)
        correct = failed == 0
        cyc = [sum(statistics.median(x["ms"] for x in v) for per in lanes.values()
                   for v in per.values()) / 1e3]
    main_ops = [o for o in ops if o["kind"] == main_kind and o["ok"]]
    rolls = [o for o in ops if o["kind"] == "tick.rollover" and o["ok"]]
    correct = correct and failed == 0 and bool(main_ops) and bool(cyc)

    if a.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        values = layer_metrics(cfg, res, spans, main_ops, rolls, lanes) if main_ops and not detail.get("fatal") \
            else dict.fromkeys(per_layer_names(), 0.0)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
    else:
        values = {
            "setup_s": statistics.median(res["session_s"] + s for s in res.get("setup_s", [0])),
            "op_ms": op_ms(cfg, main_ops) if main_ops else 0.0,
            "cycle_s": statistics.mean(cyc) if cyc else 0.0,
            "retained_mb": res["retained_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}

    # load averages trail by a minute and include the previous run, so
    # the flag uses the instant CPU share taken outside this run's work
    contaminated = any(g["other_jvms"] or g["cpu_busy"] > 0.5 for g in (g0, g1)) or steal > 0.05
    print(json.dumps({"guard": {"start": g0, "end": g1, "steal_share": round(steal, 4),
                                "contaminated": contaminated},
                      "samples": len(main_ops), "rollovers": len(rolls),
                      "failed_share": failed / attempted, "check": detail,
                      "wall_s": round(time.time() - started, 1)}))
    # the next run must not inherit this one's disk write-back: drop the
    # apps' Derby files and sinks now, outside every timing, and flush
    for d in glob.glob(os.path.join(run_dir, "app*")) + [os.path.join(run_dir, "spark-local")]:
        shutil.rmtree(d, ignore_errors=True)
    os.sync()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
