#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload dml|reads|churn --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (cached by a
hash of the sources), generates the tables (cached), runs the harness
JVM in a private scratch directory (its own working directory,
java.io.tmpdir, Spark warehouse and local dirs, all removed at exit),
checks the outputs, writes one record under `.bench_build/records/`
and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics untraced
(`--trace 0`), the per-layer metrics traced (`--trace 1`).

`--inject NAME` adds a query that throws; it serves the
failure-accounting self-test (`selftest.py`) and makes a run that no
comparison should use.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
RECORDS = os.path.join(BUILD, "records")
WORKLOADS = ("dml", "reads", "churn")
HEAP = "3g"
# a traced run fails when an operation's phases miss its wall time by more
PHASE_GAP_LIMIT = 0.02
DEADLINE_S = 170  # the whole invocation, build excluded

T_START = time.time()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    """sbt resolves offline, from the local caches only."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    return env


def build():
    """Engine + harness classpath, compiled once per source state."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found next to the benchmark; nothing to build", 2)
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"], HERE, out, 800, sbt_env())
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1], stamp


def dataset():
    """The generated tables, written once per generator version."""
    sys.path.insert(0, HERE)
    import gen_data
    d = os.path.join(BUILD, "data", tree_hash([os.path.join(HERE, "gen_data.py")]))
    if not os.path.exists(os.path.join(d, "DONE")):
        log("generating tables")
        gen_data.write(d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def java_opts(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return ([f"-Xmx{HEAP}", "-XX:+UseG1GC"]
            + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work}/tmp",
               f"-Dgraft.fixtures.dir={ROOT}/src/test/resources/datasets",
               f"-Dderby.system.home={work}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


def run_group(cmd, cwd, out, timeout, env=None):
    """Runs `cmd` in its own process group and returns its exit code;
    the whole group is killed on timeout or when this process exits
    early, so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(cp, work, args):
    raw = os.path.join(work, "raw.json")
    cmd = ["java"] + java_opts(work) + ["-cp", cp, "perfbench.Main"] + args + [
        "--work", work, "--out", raw]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        rc = run_group(cmd, work, err, max(10, DEADLINE_S - (time.time() - T_START)))
    if rc != 0 or not os.path.exists(raw):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(raw) as f:
        return json.load(f)


# --- statistics --------------------------------------------------------

def summary(values, unit):
    """Median, quartiles and sample count of one metric."""
    v = sorted(values)
    n = len(v)
    q = statistics.quantiles(v, n=4) if n >= 2 else [v[0], v[0], v[0]]
    return {"unit": unit, "n": n, "median": statistics.median(v), "p25": q[0], "p75": q[2]}


TAIL_BEYOND = 10


def add_tail(m, name, values, unit):
    """The highest percentile with at least ten samples beyond it, when
    that percentile lies above the median (21 samples or more)."""
    v = sorted(values)
    n = len(v)
    if n < 2 * TAIL_BEYOND + 1:
        return
    i = n - 1 - TAIL_BEYOND
    s = summary(values, unit)
    s.update({"median": v[i], "percentile": round(100.0 * (i + 1) / n, 1), "beyond": TAIL_BEYOND})
    m[name] = s


def one(value, unit):
    return {"unit": unit, "n": 1, "median": value, "p25": value, "p75": value}


def end_to_end(raw, timed):
    ms = [o["ms"] for o in timed]
    per_op = {}
    for o in timed:
        per_op.setdefault(o["name"], []).append(o["ms"])
    by_pass = {}
    for o in timed:
        if o["kind"] != "vacuum":  # one per churn loop, after the last round
            by_pass.setdefault(o["pass"], []).append(o)
    walls = [(ps[-1]["start_ms"] + ps[-1]["ms"] - ps[0]["start_ms"]) / 1000.0 for ps in by_pass.values()]
    m = {"setup_s": one(raw["setup_s"], "s"),
         "wall_s": summary(walls, "s"),
         "op_geomean_ms": one(statistics.geometric_mean(
             [statistics.median(v) for v in per_op.values()]), "ms"),
         "op_p50_ms": summary([statistics.median(v) for v in per_op.values()], "ms"),
         "heap_live_peak_mb": one(max(raw["heap_live_mb"]), "MB")}
    add_tail(m, "op_tail_ms", ms, "ms")
    if raw["workload"] == "churn":
        commits = [o["ms"] for o in timed if o["kind"] == "commit"]
        reads = [o["ms"] for o in timed if o["kind"] == "read"]
        m["commit_p50_ms"] = summary(commits, "ms")
        add_tail(m, "commit_tail_ms", commits, "ms")
        m["read_p50_ms"] = summary(reads, "ms")
        add_tail(m, "read_tail_ms", reads, "ms")
        m["write_amp"] = one(raw["churn"]["write_amp"], "ratio")
        m["space_amp"] = one(raw["churn"]["space_amp"], "ratio")
    return m


PER_PASS = [("build.ms", "ms"), ("plan.ms", "ms"), ("execute.ms", "ms"),
            ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
            ("spark.task_failures", "count"), ("spark.exec_run_ms", "ms"), ("spark.exec_cpu_ms", "ms"),
            ("spark.gc_ms", "ms"), ("spark.input_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
            ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
            ("spark.job_busy_ms", "ms"), ("driver.gap_ms", "ms"),
            ("lake.files_written", "count"), ("lake.bytes_written", "bytes"),
            ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes")]
CHURN_KINDS = ("append", "merge", "delete", "update", "compact", "vacuum")
CHURN_READS = {"read_latest": "lake.read_latest_ms", "read_point": "lake.read_point_ms",
               "read_asof": "lake.read_asof_ms"}


def per_layer(raw, timed, slots):
    """Layer totals per timed pass (the churn loop is one pass), from
    the traced run."""
    passes = len({o["pass"] for o in timed})

    def value(o, name):
        if name.endswith(".ms") and name.split(".")[0] in ("build", "plan", "execute"):
            return sum(p["ms"] for p in o["phases"] if p["name"] == name.split(".")[0])
        if name.startswith("fs."):
            return o["fs_" + name[3:].replace(".", "_")]
        return o["layer"].get(name, 0)

    m = {}
    for name, unit in PER_PASS:
        m[name] = one(sum(value(o, name) for o in timed) / passes, unit)
    run, busy = m["spark.exec_run_ms"]["median"], m["spark.job_busy_ms"]["median"]
    m["spark.slot_util"] = one(run / (busy * slots) if busy else 0.0, "ratio")
    churn = raw.get("churn", {})
    for k in ("lake.versions", "lake.files_live", "lake.log_bytes"):
        m[k] = one(churn.get(k, 0), "bytes" if k.endswith("bytes") else "count")
    prune = [o["layer"]["lake.point_prune_ratio"] for o in timed if "lake.point_prune_ratio" in o["layer"]]
    m["lake.point_prune_ratio"] = one(statistics.mean(prune) if prune else 0.0, "ratio")
    if raw["workload"] == "churn":
        for k in CHURN_KINDS:
            xs = [o["ms"] for o in timed if o["name"] == k]
            if xs:
                m[f"lake.{k}_ms"] = summary(xs, "ms")
        for n, k in CHURN_READS.items():
            m[k] = summary([o["ms"] for o in timed if o["name"] == n], "ms")
        rs = [o["layer"]["lake.resolve_ms"] for o in timed if "lake.resolve_ms" in o["layer"]]
        if rs:
            m["lake.resolve_ms"] = summary(rs, "ms")
    return m


def phase_coverage(timed):
    """Worst share by which an operation's phases miss its wall time."""
    worst = 0.0
    for o in timed:
        if o["ms"] > 0:
            worst = max(worst, abs(o["ms"] - sum(p["ms"] for p in o["phases"])) / o["ms"])
    return worst


def fingerprint(raw, data_dir, stamp, seed):
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    env = raw["env"]
    return {"nproc": os.cpu_count(), "jvm_cpus": env["nproc"], "slots": env["slots"],
            "xmx_mb": env["xmx_mb"], "jvm": env["jvm"], "spark": env["spark"],
            "git_sha": sha, "source_hash": stamp, "seed": seed,
            "data": {os.path.basename(p): os.path.getsize(p)
                     for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet")))}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", help="name of an extra query that throws")
    a = ap.parse_args()
    # unwind on SIGTERM too, so that child process groups are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, stamp = build()
    data_dir = dataset()
    global T_START
    T_START = time.time()
    work = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(T_START * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir]
        if a.inject:
            args += ["--inject", a.inject]
        raw = run_jvm(cp, work, args)
        report(a, raw, data_dir, stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, raw, data_dir, stamp):
    ops = raw["ops"]
    timed = [o for o in ops if o["pass"] > 0]
    failed_why = {}
    for o in ops:
        if o["error"]:
            failed_why.setdefault(o["name"], o["error"])
    if raw["workload"] in ("dml", "reads"):
        import checks
        names = sorted({o["name"] for o in ops})
        for n, why in checks.check_queries(data_dir, raw["check_dir"], names, raw["oracles"]).items():
            failed_why.setdefault(n, why)
        bad = [o for o in timed if o["name"] in failed_why]
    else:
        bad_idx = set(raw["check_failures"])
        for f in raw["failures"]:
            failed_why.setdefault(f["why"].split(":")[0] if f["kind"] == "check" else "final_snapshot",
                                  f["why"])
        if any(f["kind"] == "final" for f in raw["failures"]):
            bad_idx.add(len(ops) - 1)
        bad = [o for i, o in enumerate(ops) if o["pass"] > 0 and (o["error"] or i in bad_idx)]
    attempted, failed = len(timed), len(bad)

    e2e = end_to_end(raw, timed)
    e2e["fail_ratio"] = one(failed / attempted, "ratio")
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
              "fingerprint": fingerprint(raw, data_dir, stamp, a.seed),
              "narrowed": bool(a.inject),
              "attempted": attempted, "failed": failed,
              "failed_ops": dict(sorted(failed_why.items())),
              "end_to_end": e2e,
              "setup_parts": raw["setup_parts"], "heap_live_mb": raw["heap_live_mb"],
              "ops": [{k: o[k] for k in ("name", "kind", "pass", "ms", "error")} for o in ops]}
    if a.trace:
        record["per_layer"] = per_layer(raw, timed, raw["env"]["slots"])
        record["phase_gap_max"] = phase_coverage(timed)
        record["unattributed_jobs"] = raw.get("unattributed_jobs")
        base = latest_record(a.workload, a.seed, trace=0, stamp=stamp)
        if base:
            record["tracing_overhead"] = {
                "untraced_wall_s": base["end_to_end"]["wall_s"]["median"],
                "traced_wall_s": e2e["wall_s"]["median"],
                "ratio": e2e["wall_s"]["median"] / base["end_to_end"]["wall_s"]["median"] - 1}
        record["spans"] = raw["spans"]
    os.makedirs(RECORDS, exist_ok=True)
    path = os.path.join(RECORDS, f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(record, f)

    shown = record["per_layer"] if a.trace else e2e
    for name, s in shown.items():
        extra = f" (p{s['percentile']}, {s['beyond']} beyond)" if "percentile" in s else ""
        print(f"{a.workload:6} {name:26} {s['median']:>14.4f} {s['unit']:6} n={s['n']:<4} "
              f"p25={s['p25']:.4f} p75={s['p75']:.4f}{extra}")
    trace_ok = not a.trace or record["phase_gap_max"] <= PHASE_GAP_LIMIT
    if a.trace:
        print(f"phase gap max {record['phase_gap_max']:.4%} (limit {PHASE_GAP_LIMIT:.0%}); "
              f"tracing overhead {record.get('tracing_overhead', {}).get('ratio', 'n/a')}")
        if not trace_ok:
            print("TRACE FAILED: the phases of an operation miss its wall time by more than the limit")
    for n, why in record["failed_ops"].items():
        print(f"FAILED {n}: {why}")
    print(f"record {os.path.relpath(path, ROOT)}")
    from_bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in from_bench["per_layer" if a.trace else "end_to_end"]]
    metrics = {n: {"value": shown[n]["median"], "unit": shown[n]["unit"]} for n in names}
    print(json.dumps({"correct": failed == 0 and not failed_why and trace_ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def latest_record(workload, seed, trace, stamp):
    best = None
    for p in sorted(glob.glob(os.path.join(RECORDS, f"{workload}-s{seed}-t{trace}-*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r["fingerprint"]["source_hash"] == stamp and not r["narrowed"]:
            best = r
    return best


if __name__ == "__main__":
    main()
