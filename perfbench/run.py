#!/usr/bin/env python3
"""Cold-command benchmark of the graft engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Each measured sample is one fresh JVM that runs the workload's calls once,
the way every CLI command pays its own JVM, session and code generation. A
run makes the seeded inputs and stages them (untimed). It then starts the
workload's fixed number of fresh JVMs one after another, sized so that a run
measures for about --seconds on four cores, plus session-only JVMs until
set-up has been measured SETUP_STARTS times. It checks every timed call's
rows and prints one JSON object as its last line: the end-to-end metrics,
medians over the run's JVMs (--trace 0), or the per-layer metrics of one
traced JVM (--trace 1), which follows one untraced JVM on the same inputs.

Everything a run writes lands under <checkout>/.bench_build: the build
(compiled once per checkout), a scratch root per run (zones, warehouse and
Spark local dirs; removed when the run ends) and, for traced runs, the span
file and self-time table under .bench_build/traces.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

# Each workload: generator size, the registered entries its JVMs call (in
# this order), and the fresh JVMs one run measures. A full measurement (22
# runs of each workload, 4 more and two builds) has to fit in under an hour
# on four cores, so a run takes about a minute: one JVM of the partly
# data-bound etl_folder, or two JVMs of the shorter ohdsi_bridge.
WORKLOADS = {
    "etl_folder": dict(customers=2000, docs=50, vecs=50, jvms=1),
    # Every 25th ohdsi_sql_* entry in name order, among the 85 that read no
    # run-once store (achilles105, achilles701, heel_rule and delete_flow
    # first build the derived CDM or the stored batteries, a data-bound
    # build whichever entry comes first would absorb). Fixed to fit the run
    # length; all 89 entries pass their oracles.
    "ohdsi_bridge": dict(customers=1500, docs=500, vecs=500, jvms=2, entries=[
        "ohdsi_sql_apply_events", "ohdsi_sql_bq_s2cm_remove", "ohdsi_sql_drop_table",
        "ohdsi_sql_upload_insert"]),
}

# setup_s is the median over this many JVM starts per run; a run whose
# measuring JVMs are fewer adds JVMs that only build the session.
SETUP_STARTS = 2

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("command_s", "s"), ("rows_per_s", "rows/s"), ("disk_ratio", "ratio"),
]

PER_LAYER_UNITS = {"_ms": "ms", "_mb": "MB", "_frac": "fraction"}  # by suffix; else count

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 170  # after the build, a run must end within this, checks included


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest(root):
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/jvm/src", "perfbench/jvm/build.sbt",
                 "perfbench/jvm/project/build.properties", "build.sbt"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the benchmark's JVM code once per checkout; returns
    the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    digest = source_digest(root)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read() == digest:
                    with open(cp_file) as cf:
                        return cf.read()
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("perfbench: building (once per checkout)")
        with open(os.path.join(out, "build.log"), "w") as blog:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "writeClasspath"],
                cwd=os.path.join(HERE, "jvm"), stdout=blog, stderr=subprocess.STDOUT,
                env=env, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail("build failed; see .bench_build/build.log")
        with open(stamp_file, "w") as fh:
            fh.write(digest)
        with open(cp_file) as cf:
            return cf.read()


# ---------------------------------------------------------------- JVMs

def heap():
    """The tier-1 heap formula: half of physical memory, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def slots():
    return len(os.sched_getaffinity(0))


def child_env(work):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return env


def run_jvm(cp, work, args, label, deadline):
    """Start one JVM and wait for it, at most until `deadline` (monotonic s);
    returns (launch epoch s, result dict)."""
    for d in ("zones", "warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=768m", "-XX:-UsePerfData",
        f"-Dgraft.zones.root={work}/zones", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "graft.bench.PerfBench", "--work", work, "--out", out,
        "--slots", str(slots())] + args
    log_path = os.path.join(work, "jvm.log")
    launched = time.time()
    log(f"perfbench: starting {label} JVM")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                env=child_env(work), start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when this process is told to stop
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            lines = [l for l in fh.read().splitlines() if not l.lstrip().startswith("at ")]
        cause = [l for l in lines if "Exception" in l or "Error" in l][:3]
        fail(f"{label} JVM exited with {proc.returncode}:\n" + "\n".join(cause + lines[-5:]))
    with open(out) as fh:
        return launched, json.load(fh)


# ---------------------------------------------------------------- staging

def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# raw-zone table -> (columns staged from the input, key columns shifted per replica)
ETL_RAW = {
    "region": (None, []),
    "nation": (None, []),
    "customer": (None, ["c_custkey"]),
    "orders": (None, ["o_orderkey", "o_custkey"]),
    "events": (["event_id", "user_id", "event_type"], ["event_id", "user_id"]),
}
# The raw zone holds this many copies of the seeded customers, orders and
# events, so that about a quarter of runEtl's time is data-proportional work
# rather than fixed cost (cold code generation and planning); more copies
# would not fit the time budget (perfbench/METRICS.md). Replica i shifts
# every key by i * REPLICA_KEY_OFFSET, as graft.tools.FolderEtlSoak stages
# its scales, so each foreign key resolves within its replica and every row
# stays distinct.
ETL_REPLICAS = 12
REPLICA_KEY_OFFSET = 100_000_000


def stage_etl_raw(input_dir, zones):
    for t, (cols, keys) in ETL_RAW.items():
        d = os.path.join(zones, "raw", t)
        os.makedirs(d)
        tb = pq.read_table(f"{input_dir}/{t}.parquet", columns=cols)
        for i in range(ETL_REPLICAS if keys else 1):
            rep = tb
            for k in keys:
                j = rep.schema.get_field_index(k)
                rep = rep.set_column(j, k, pc.add(rep[k], i * REPLICA_KEY_OFFSET))
            pq.write_table(rep, os.path.join(d, f"part-{i:05d}.parquet"))


def stage(workload, cfg, seed, run_dir):
    """Untimed: write the seeded inputs, and the raw zone etl_folder reads.
    Returns (input dir, directory every measuring JVM starts from, facts)."""
    input_dir = os.path.join(run_dir, "input")
    sizes = gen.write(input_dir, seed, cfg["customers"], cfg["docs"], cfg["vecs"])
    template = os.path.join(run_dir, "template")
    os.makedirs(os.path.join(template, "zones"))
    if workload == "etl_folder":
        stage_etl_raw(input_dir, os.path.join(template, "zones"))
        staged = dir_bytes(os.path.join(template, "zones", "raw"))
    else:
        staged = dir_bytes(input_dir)
    facts = {"input_rows": sum(r for r, _ in sizes.values()),
             "input_bytes": sum(b for _, b in sizes.values()),
             "staged_bytes": staged}
    return input_dir, template, facts


def setup_once(cp, run_dir, i, deadline):
    """One fresh JVM that builds the session and exits; returns its setup_s."""
    work = os.path.join(run_dir, f"setup{i}")
    launched, res = run_jvm(cp, work, ["--workload", "setup"], f"session-only #{i}", deadline)
    return res["first_call_epoch_s"] - launched


def measure_once(cp, workload, cfg, input_dir, template, run_dir, i, trace, deadline):
    """One fresh JVM running the workload's calls once."""
    work = os.path.join(run_dir, f"jvm{i}")
    shutil.copytree(template, work)
    args = ["--workload", workload, "--input", input_dir, "--trace", "1" if trace else "0"]
    if cfg.get("entries"):
        args += ["--entries", ",".join(cfg["entries"])]
    launched, res = run_jvm(cp, work, args, f"{workload} #{i}", deadline)
    res["setup_s"] = res["first_call_epoch_s"] - launched
    res["work"] = work
    for c in res["calls"]:  # rows a registered entry wrote, from the parquet footers
        if c["output"] and not c["error"]:
            c["rows"] = sum(pq.ParquetFile(f).metadata.num_rows
                            for f in glob.glob(os.path.join(c["output"], "*.parquet")))
    return res


# ---------------------------------------------------------------- checks

class Checker:
    """Checks each timed call's rows. An oracle's rows depend only on its SQL
    and the inputs, so they are kept under .bench_build/oracle_cache, keyed
    by both, and computed once per seed and checkout."""

    def __init__(self, root, input_dir, raw_dir):
        self.con = oracle.connect(input_dir)
        self.raw_dir = raw_dir
        self.cache = os.path.join(root, ".bench_build", "oracle_cache")
        os.makedirs(self.cache, exist_ok=True)
        h = hashlib.sha256()
        for f in sorted(os.listdir(input_dir)):
            with open(os.path.join(input_dir, f), "rb") as fh:
                h.update(f.encode() + fh.read())
        self.input_digest = h.hexdigest()
        self.expected = {}

    def want(self, name, sql):
        if name not in self.expected:
            key = hashlib.sha256((self.input_digest + sql).encode()).hexdigest()
            path = os.path.join(self.cache, f"{key}.pkl")
            if os.path.exists(path):
                self.expected[name] = oracle.pd.read_pickle(path)
            else:
                self.expected[name] = self.con.sql(sql).df()
                self.expected[name].to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
        return self.expected[name]

    def etl_expected(self):
        """Distinct rows of each staged raw table."""
        if "etl" not in self.expected:
            self.expected["etl"] = {t: self.con.sql(
                f"SELECT count(*) FROM (SELECT DISTINCT * FROM '{self.raw_dir}/{t}/*.parquet')"
            ).fetchone()[0] for t in ETL_RAW}
        return self.expected["etl"]

    def check(self, res):
        """Returns one (call name, failure reason or None) per timed call."""
        out = []
        facts, oracles = res["facts"], res["oracles"]
        for call in res["calls"]:
            name = call["name"]
            if call["error"]:
                out.append((name, call["error"]))
                continue
            try:
                out.append((name, self.check_call(call, facts, oracles)))
            except Exception as e:  # noqa: BLE001 - a broken check is a failed call
                out.append((name, f"check raised {type(e).__name__}: {str(e)[:200]}"))
        return out

    def check_call(self, call, facts, oracles):
        name = call["name"]
        if name.endswith("runEtl"):
            want = self.etl_expected()
            got = facts["etl_counts"]
            bad = {t: (got.get(t), n) for t, n in want.items() if got.get(t) != n}
            if bad:
                return f"table counts (got, want): {bad}"
            if facts["event_rekey_mismatches"] != 0:
                return f"{facts['event_rekey_mismatches']} event re-key mismatches"
            return None
        if name not in oracles:
            return "no oracle registered"
        return oracle.mismatch(oracle.read_output(self.con, call["output"]),
                               self.want(name, oracles[name]))


# ---------------------------------------------------------------- metrics

def end_to_end(res, facts):
    rows = sum(c["rows"] for c in res["calls"])
    command = sum(c["wall_s"] for c in res["calls"])
    return {
        "command_s": command,
        "rows_per_s": rows / command,
        "disk_ratio": res["facts"]["zones_bytes"] / facts["staged_bytes"],
    }


def detail(workload, results):
    """Workload-specific timings, each over every sample of the run."""
    def walls(pred):
        return [c["wall_s"] for r in results for c in r["calls"] if pred(c["name"])]
    def per_jvm(pred):
        return [sum(c["wall_s"] for c in r["calls"] if pred(c["name"])) for r in results]
    out = {"peak_rss_mb": ("MB", [r["peak_rss_mb"] for r in results])}
    if workload == "ohdsi_bridge":
        entry = walls(lambda n: True)
        out["bridge_s"] = ("s", per_jvm(lambda n: True))
        out["bridge_entry_p50_s"] = ("s", entry)
        tail = stats.tail_percentile(entry)
        if tail:
            out[f"bridge_entry_p{tail[0]}_s"] = ("s", [tail[1]])
    return out


def print_table(title, rows):
    print(title)
    print(f"  {'metric':<26}{'unit':>8}{'median':>14}{'q1':>12}{'q3':>12}{'n':>5}")
    for name, unit, values in rows:
        q1, q2, q3 = stats.quartiles(values)
        print(f"  {name:<26}{unit:>8}{q2:>14.4f}{q1:>12.4f}{q3:>12.4f}{len(values):>5}")


# ---------------------------------------------------------------- traces

def layer_unit(name):
    return next((u for suffix, u in PER_LAYER_UNITS.items() if name.endswith(suffix)), "count")


def self_times(spans):
    """Self time per span name: duration minus the part covered by children.
    Detached spans (Spark jobs) take the innermost call span containing
    their start as parent."""
    calls = [s for s in spans if s["parent"] >= 0]
    for s in spans:
        if s["parent"] < 0:
            inside = [c for c in calls if c["start_us"] <= s["start_us"] <= c["end_us"]]
            s["parent"] = max(inside, key=lambda c: c["start_us"])["id"] if inside else 0
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        ivs = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                     for c in children.get(s["id"], []))
        covered, cur = 0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        total = s["end_us"] - s["start_us"]
        t = table.setdefault(s["name"], [0, 0.0, 0.0])
        t[0] += 1
        t[1] += total / 1000.0
        t[2] += (total - covered) / 1000.0
    return table


def save_trace(root, workload, seed, res, untraced):
    dest = os.path.join(root, ".bench_build", "traces", f"{workload}-seed{seed}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    with open(os.path.join(res["work"], "spans.jsonl")) as fh:
        spans = [json.loads(l) for l in fh if l.strip()]
    shutil.copy(os.path.join(res["work"], "spans.jsonl"), dest)
    table = self_times(spans)
    overhead = sum(c["wall_s"] for c in res["calls"]) - sum(c["wall_s"] for c in untraced["calls"])
    with open(os.path.join(dest, "selftime.tsv"), "w") as fh:
        fh.write("span\tcount\ttotal_ms\tself_ms\n")
        for name, (n, total, self_ms) in sorted(table.items(), key=lambda kv: -kv[1][2]):
            fh.write(f"{name}\t{n}\t{total:.1f}\t{self_ms:.1f}\n")
    print(f"self time by span ({dest}/selftime.tsv):")
    for name, (n, total, self_ms) in sorted(table.items(), key=lambda kv: -kv[1][2])[:12]:
        print(f"  {name:<48}{n:>5}{total:>12.1f} ms{self_ms:>12.1f} ms self")
    print(f"tracing overhead: {overhead:+.3f} s (traced minus untraced command time)")
    return overhead


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # run the cleanup in finally blocks (JVM kill, scratch removal) on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/jvm/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the program: {need} is missing")
    cfg = WORKLOADS[a.workload]
    cp = build(root)
    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(root, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        input_dir, template, facts = stage(a.workload, cfg, a.seed, run_dir)
        checker = Checker(root, input_dir, os.path.join(template, "zones", "raw"))
        results = []
        if a.trace:
            results.append(measure_once(
                cp, a.workload, cfg, input_dir, template, run_dir, 0, False, deadline))
            traced = measure_once(
                cp, a.workload, cfg, input_dir, template, run_dir, 1, True, deadline)
            results.append(traced)
        else:
            setups = [setup_once(cp, run_dir, i, deadline)
                      for i in range(SETUP_STARTS - cfg["jvms"])]
            for i in range(cfg["jvms"]):
                results.append(measure_once(
                    cp, a.workload, cfg, input_dir, template, run_dir, i, False, deadline))
            setups += [r["setup_s"] for r in results]
        t_check = time.monotonic()
        checks = [c for r in results for c in checker.check(r)]
        log(f"perfbench: checked {len(checks)} calls in {time.monotonic() - t_check:.1f} s")
        failed = [(n, why) for n, why in checks if why]
        for n, why in failed:
            print(f"FAILED {n}: {why}")
        print(f"workload {a.workload}, seed {a.seed}: {len(results)} JVMs, "
              f"input {facts['input_rows']} rows / {facts['input_bytes']} bytes, "
              f"staged {facts['staged_bytes']} bytes")
        if a.trace:
            overhead = save_trace(root, a.workload, a.seed, traced, results[0])
            metrics = dict(traced["layers"])
            metrics["trace.overhead_ms"] = overhead * 1000.0
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(metrics.items())}
        else:
            per_jvm = [end_to_end(r, facts) for r in results]
            e2e = [(n, u, setups if n == "setup_s" else [m[n] for m in per_jvm])
                   for n, u in END_TO_END]
            print_table("end-to-end (one value per JVM; setup_s per JVM start):", e2e)
            print_table("per workload:", [(n, u, v) for n, (u, v) in detail(a.workload, results).items()]
                        + [("failed_ratio", "fraction", [len(failed) / len(checks)])])
            metrics = {n: {"value": stats.median(v), "unit": u} for n, u, v in e2e}
        print(json.dumps({"correct": not failed, "attempted": len(checks),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
