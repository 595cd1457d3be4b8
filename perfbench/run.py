#!/usr/bin/env python3
"""Benchmark of the pydala2spark management layer and catalog queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

Builds the library and the harness from source (sbt, offline) on first
use, runs one workload in a fresh JVM on local[n] (n <= 4), checks every
result, and prints the metrics named in BENCHMARK.json: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. The last
stdout line is one JSON object with keys correct, attempted, failed and
metrics. The line before it is a report with every metric the run
measured, the check outcomes and host-contention markers.

Traced runs also leave their spans in .bench_build/traces/ for
perfbench/summarize.py. `--workload all` runs query-mix, lookup-scan
and ingest-merge, each untraced and traced, and then the summary.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("query-mix", "lookup-scan", "ingest-merge")
# Spark 4 on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# for input generation and the workload JVM, counted after the build,
# leaving the 180 s a run may take room for the checks that follow
RUN_TIMEOUT_S = 160


def die(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ------------------------------------------------------------

def source_stamp():
    """Hash of everything the harness's classpath is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("no library sources next to the benchmark (src/main/scala/graft, build.sbt)", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required to build the benchmark", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", "")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts[0] and os.path.isfile(repos):
        # resolve only from the repositories sbt is configured with
        opts.append(f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Dsbt.offline=true")
    if "-Xmx" not in opts[0]:
        opts.append("-Xmx3g")
    opts += ["-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"), "-Dsbt.server.forcestart=false"]
    env["SBT_OPTS"] = " ".join(filter(None, opts))
    log = os.path.join(BUILD, "build.log")
    t = time.time()
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                timeout=840, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as fh:
        fh.write(p.stdout)
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        tail = "".join(open(log).readlines()[-30:])
        die(f"build failed (exit {p.returncode}):\n{tail}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t:.0f} s", file=sys.stderr)
    return cp


# ---- host markers -----------------------------------------------------

def host_state():
    def read(p):
        try:
            with open(p) as f:
                return f.read()
        except OSError:
            return ""

    def psi_total_us(res):
        for line in read(f"/proc/pressure/{res}").splitlines():
            if line.startswith("some"):
                for part in line.split():
                    if part.startswith("total="):
                        return int(part[6:])
        return None

    # time the hypervisor ran other guests on this machine's CPUs
    cpu = read("/proc/stat").split("\n", 1)[0].split()
    steal_ms = int(cpu[8]) * 1000 // os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else None
    mem = None
    for line in read("/proc/meminfo").splitlines():
        if line.startswith("MemAvailable:"):
            mem = int(line.split()[1]) // 1024
    load = [float(x) for x in read("/proc/loadavg").split()[:3]] or None
    return {"load": load, "psi_cpu_us": psi_total_us("cpu"),
            "psi_io_us": psi_total_us("io"), "steal_ms": steal_ms, "mem_avail_mb": mem}


def host_markers(before, after):
    def delta(k):
        a, b = before.get(k), after.get(k)
        return None if a is None or b is None else b - a
    return {"load_before": before["load"], "load_after": after["load"],
            "psi_cpu_some_ms": None if delta("psi_cpu_us") is None else delta("psi_cpu_us") / 1000,
            "psi_io_some_ms": None if delta("psi_io_us") is None else delta("psi_io_us") / 1000,
            "cpu_steal_ms": delta("steal_ms"),
            "mem_avail_mb_before": before["mem_avail_mb"],
            "mem_avail_mb_after": after["mem_avail_mb"]}


# ---- the DuckDB oracle (query-mix) -------------------------------------

def comparator():
    """canon() and eq() of the repository's oracle-compare harness."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod.eq


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_compare(con, canon, eq, sql, result_dir):
    """None when the Spark result equals the oracle's value for value
    (bit-exact: a float that is merely close is a mismatch), else why."""
    files = sorted(os.path.join(result_dir, f) for f in os.listdir(result_dir)
                   if f.endswith(".parquet")) if os.path.isdir(result_dir) else []
    if not files:
        return "no result files"
    got = con.sql("SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])")
    got_cols = [c.lower() for c in got.columns]
    got_rows = got.fetchall()
    return compare_rows(canon, eq, got_cols, got_rows, con.sql(sql))


def compare_rows(canon, eq, got_cols, got_rows, exp_rel):
    exp_cols = [c.lower() for c in exp_rel.columns]
    if any("HUGEINT" in str(t).upper() for t in exp_rel.types):
        return "oracle has a HUGEINT column"
    exp_rows = exp_rel.fetchall()
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns differ spark={sorted(got_cols)} oracle={sorted(exp_cols)}"
    gc, gr = canon(got_rows, got_cols)
    _, er = canon(exp_rows, exp_cols)
    if len(gr) != len(er):
        return f"row count spark={len(gr)} oracle={len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        for j, (x, y) in enumerate(zip(a, b)):
            if eq(x, y) != "exact":
                return f"row {i} col {gc[j]}: spark={x!r} oracle={y!r}"
    return None


def check_query_mix(res):
    import duckdb
    canon, eq = comparator()
    oracle = res["info"]["oracle"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['tables']}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracle["sql"].items()):
        try:
            err = oracle_compare(con, canon, eq, sql, os.path.join(oracle["results"], name))
        except Exception as e:  # an oracle or read error is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            bad[name] = err
    return bad


# ---- metrics ----------------------------------------------------------

def p50(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else None
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def measured_metrics(res):
    """Every metric the run measured, by name."""
    ops = res["ops"]
    info = res["info"]

    def lat(kind):
        return [o["ms"] for o in ops if o["kind"] == kind and o["ok"]]

    reads = lat("read")
    secs = res["measured_s"] or float("nan")
    m = {
        # JVM start to Spark ready, plus input generation inside the JVM
        # (ingest-merge, lookup-scan), plus the warm pass
        "setup_s": res["ready_s"] + res["gen_s"] + res["warm_s"],
        "read_p50_ms": p50(reads),
        "read_p90_ms": p90(reads),
        "reads_per_s": len(reads) / secs,
        "fail_ratio": sum(not o["ok"] for o in ops) / max(1, len(ops)),
        "peak_rss_mb": res["peak_rss_mb"],
        "read_samples": len(reads),
    }
    if res["workload"] == "ingest-merge":
        m.update({
            "append_p50_ms": p50(lat("append")),
            "merge_p50_ms": p50(lat("upsert") + lat("insert") + lat("update")),
            "delete_p50_ms": p50(lat("delete")),
            "compact_p50_ms": p50(lat("compact")),
            "ingest_rows_per_s": info["landed_rows"] / secs,
            "write_amp": info["task_output_bytes"] / max(1, info["written_once_bytes"]),
            "bytes_per_row": info["dataset_bytes"] / max(1, info["live_rows"]),
        })
    m.update(res["layers"])
    return m


def run_all(seed, seconds):
    """Every workload, untraced then traced, then the per-layer summary."""
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            print(f"== {w} --trace {trace}", flush=True)
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            print("\n".join(lines[-2:]), flush=True)
            ok = ok and p.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    subprocess.run([sys.executable, os.path.join(BENCH, "summarize.py"), "--seed", str(seed)])
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        run_all(a.seed, a.seconds)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root", 2)
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # query-mix's tables are generated before the JVM starts: that is the
    # benchmark's own code, so it is outside setup_s
    inputs = "-"
    if a.workload == "query-mix":
        sys.path.insert(0, BENCH)
        import star_schema
        inputs = os.path.join(work, "tables")
        star_schema.write(inputs, a.seed)
    # a fixed heap and young generation keep peak RSS from following G1's
    # adaptive sizing (with -Xms1g, peak RSS split into two modes 400 MiB
    # apart across seeds)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, inputs, out])
    before = host_state()
    jvm = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = jvm.wait(timeout=max(10, deadline - time.time()))
    except BaseException:
        jvm.kill()
        jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("workload timed out or was interrupted")
    after = host_state()
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        die(f"workload JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if a.workload == "query-mix":
        bad = check_query_mix(res)
        for name, err in bad.items():
            print(f"[perfbench] oracle mismatch {name}: {err}", file=sys.stderr)
        for o in res["ops"]:
            if o["ok"] and o["name"] in bad:
                o["ok"], o["error"] = False, "wrong result: " + bad[o["name"]]
        checks += [{"name": f"oracle/{n}", "ok": n not in bad, "detail": bad.get(n, "")}
                   for n in sorted(res["info"]["oracle"]["sql"])]
    shutil.rmtree(work, ignore_errors=True)

    measured = measured_metrics(res)
    section = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in section:
        v = measured.get(m["name"])
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"])
    correct = failed == 0 and all(c["ok"] for c in checks) and attempted > 0

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "metrics": measured, "ready_s": res["ready_s"],
              "gen_s": res["gen_s"], "warm_s": res["warm_s"],
              "measured_s": res["measured_s"], "checks_failed": [c for c in checks if not c["ok"]],
              "checks_passed": sum(c["ok"] for c in checks),
              "host": host_markers(before, after), "info": {
                  k: v for k, v in res["info"].items() if k != "oracle"}}
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(BUILD, "traces", tag + ".json"), "w") as f:
        json.dump({"report": report, "ops": res["ops"], "span_times": res.get("span_times")}, f)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
