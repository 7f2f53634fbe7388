#!/usr/bin/env python3
"""Customer-360 benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json gives the reason for each):
  medallion_incremental  raw batches -> bronze -> quality -> silver (merge sink,
                         CDC apply, SCD2) -> incremental MV -> gold, many commits
  analyst_scan_10x       seeded shuffle of ten dashboard queries on a factor-10
                         corpus (about 6M lineitems)
  serve_ivf_mixed        probe batches on a persisted IVF index beside appends
                         and index maintenance

The first call in a checkout compiles the program together with the
benchmark (sbt, offline) and prepares the seed-independent inputs: the
factor-10 ScaleGen corpus and cached DuckDB oracle results. Each run then
starts a clean JVM with local[n] for n = usable cores and a driver heap
sized from /proc/meminfo, sets up fresh program state (timed as setup_s),
measures a closed loop of one client for --seconds, and checks the
outputs. The last stdout line is the result JSON; the exit code is
non-zero when a check fails or the run cannot complete.

--trace 1 registers a SparkListener, records spans around every call into
a layer and reports per-layer metrics instead of end-to-end ones; it also
prints its end-to-end figures beside those of the last untraced run of the
workload in this checkout, which is the tracing overhead.

The base corpus is read from $PERFBENCH_TESTDATA (default
~/testdata/sf0.1) and Spark's jars from $SPARK_HOME/jars ($SPARK_HOME
defaults to the installation that provides spark-submit on the PATH).
Everything else is written under perfbench/.cache and perfbench/.runs in
the checkout.
"""
import argparse
import csv
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CACHE = os.path.join(BENCH, ".cache")
RUNS = os.path.join(BENCH, ".runs")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata/sf0.1"))
WORKLOADS = ("medallion_incremental", "analyst_scan_10x", "serve_ivf_mixed")
# the operations whose latency is the workload's op latency; the others
# (serve's appends and maintenance) are attempted and checked but timed apart
PRIMARY = {
    "medallion_incremental": lambda k: k == "batch",
    "analyst_scan_10x": lambda k: True,
    "serve_ivf_mixed": lambda k: k.startswith("probe") or k == "hybrid",
}
# the writes whose latency is write_p50_s: a medallion batch lands raw
# files through to committed gold; serve's appends commit to the index
WRITE = {"medallion_incremental": "batch", "serve_ivf_mixed": "append"}
ITEM_NAME = {"medallion_incremental": "ingest_rows_per_s",
             "analyst_scan_10x": "queries_per_s",
             "serve_ivf_mixed": "probes_per_s"}
JVM_TIMEOUT_S = 160
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Half the machine's memory in whole GiB, between 2g and 8g (the rule
    the repository's tier-1 test command uses for SPARK_DRIVER_MEM)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def fingerprint(*bases, files=()):
    """Hash of the named files and every .scala file under `bases`."""
    h = hashlib.sha256()
    files = list(files)
    for base in bases:
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    spark_home = os.environ.get("SPARK_HOME") or (
        shutil.which("spark-submit") and
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    os.makedirs(CACHE, exist_ok=True)
    fp = fingerprint(PROGRAM_SRC, os.path.join(BENCH, "src", "main", "scala"),
                     files=[os.path.join(BENCH, "build.sbt"),
                            os.path.join(BENCH, "project", "build.properties")])
    stamp = os.path.join(CACHE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st["fingerprint"] == fp:
            return st["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    env.setdefault("SBT_OPTS", SBT_OPTS)
    log_path = os.path.join(CACHE, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=log,
                           stderr=subprocess.STDOUT, timeout=800)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "target/scala-2.13/classes" in ln and ":" in ln
          and not ln.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log_path}")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def java(cp, main, args, log_path, cwd, timeout):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_mem()}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        try:
            return subprocess.run(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=log,
                                  stderr=subprocess.STDOUT, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            return None


def prepare(cp, workload):
    """Seed-independent inputs of a workload: a ScaleGen corpus and cached
    oracle results, remade when the program or the preparation changes."""
    fp = fingerprint(PROGRAM_SRC, files=[os.path.join(BENCH, "checks.py"), os.path.join(
        BENCH, "src", "main", "scala", "perfbench", "Prepare.scala")])
    prep = os.path.join(CACHE, f"prep_{workload}")
    stamp = os.path.join(prep, "done.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f)["fingerprint"] == fp:
                return prep
    shutil.rmtree(prep, ignore_errors=True)
    os.makedirs(prep)
    rc = java(cp, "perfbench.Prepare", [str(cores()), TESTDATA, prep, workload],
              os.path.join(prep, "prepare.log"), prep, 800)
    if rc != 0:
        fail(f"input preparation failed, see {prep}/prepare.log")
    with open(os.path.join(prep, "oracle_sql.json")) as f:
        sql = json.load(f)
    os.makedirs(os.path.join(prep, "oracle"))
    # analyst oracles run on the corpus the queries read; serve oracles on the base
    corpus = os.path.join(prep, "corpus") if workload == "analyst_scan_10x" else TESTDATA
    con = checks.connect(corpus, os.path.join(prep, "tmp"), cores())
    for n, q in sql.items():
        checks.oracle_to_parquet(con, q, os.path.join(prep, "oracle", f"{n}.parquet"))
    con.close()
    shutil.rmtree(os.path.join(prep, "tmp"), ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp}, f)
    return prep


def medallion_inputs(seed):
    d = os.path.join(CACHE, "medallion", f"seed={seed}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(TESTDATA, tmp, seed)
        os.replace(tmp, d)
    return d


def read_csv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def run_checks(res, prep):
    """Checks the JVM made itself plus oracle comparisons. Returns a list of
    (name, ok, detail)."""
    out = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    for o in res["oracle"]:
        try:
            if "sql" in o:   # medallion gold: oracle on the final silver tables
                con = checks.connect(o["tables"], os.path.join(os.path.dirname(o["got"]), "duck"), 2)
                want = con.execute(o["sql"]).df()
                con.close()
            else:
                want = checks.read(os.path.join(prep, "oracle", f"{o['name']}.parquet"))
            asked = [int(k) for k in o.get("asked", "").split(",") if k]
            ok, detail = checks.compare(o["got"], want, o.get("subset") or None, asked)
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append((f"oracle:{o['name']}", ok, detail))
    return out


def end_to_end(workload, res, ops):
    primary = [o for o in ops if PRIMARY[workload](o["kind"]) and o["ok"] == "1"]
    lat = [int(o["dur_ns"]) / 1e9 for o in primary]
    if not lat:
        return None, {}
    tail_p, tail_v, beyond = metrics.tail(lat)
    items = sum(int(o["items"]) for o in primary)
    e2e = {
        "setup_s": (res["session_s"] + res["setup_s"], "s"),
        "op_p50_s": (metrics.percentile(lat, 50), "s"),
        "op_tail_s": (tail_v, "s"),
        "items_per_s": (items / res["busy_s"], "1/s"),
    }
    writes = [int(o["dur_ns"]) / 1e9 for o in ops
              if o["kind"] == WRITE.get(workload) and o["ok"] == "1"]
    if workload in WRITE:
        if not writes:
            return None, {}
        e2e["write_p50_s"] = (metrics.percentile(writes, 50), "s")
    info = {"samples": len(lat), "tail_percentile": tail_p, "tail_samples_beyond": beyond}
    return e2e, info


def workload_named(workload, e2e, info, res, ops):
    """The end-to-end figures under their workload-specific names."""
    attempted = len(ops)
    failed = sum(o["ok"] != "1" for o in ops)
    named = {"failed_ratio": (failed / attempted if attempted else 0.0, "ratio"),
             "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if e2e:
        unit = {"medallion_incremental": "batch", "analyst_scan_10x": "query",
                "serve_ivf_mixed": "probe"}[workload]
        named[f"{unit}_p50_s"] = e2e["op_p50_s"]
        named[f"{unit}_tail_s"] = (e2e["op_tail_s"][0],
                                   f"s@p{info['tail_percentile']:g},n={info['samples']},"
                                   f"beyond={info['tail_samples_beyond']}")
        named[ITEM_NAME[workload]] = (e2e["items_per_s"][0], "1/s")
    if workload == "medallion_incremental":
        named["storage_bytes_per_input_byte"] = (res["extras"]["storage_bytes_per_input_byte"],
                                                 "ratio")
    if workload == "serve_ivf_mixed":
        app = [int(o["dur_ns"]) / 1e9 for o in ops if o["kind"] == "append" and o["ok"] == "1"]
        if app:
            named["append_p50_s"] = (metrics.percentile(app, 50), f"s,n={len(app)}")
    return named


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps its JVM: subprocess.run kills
    # the child when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    if a.workload == "medallion_incremental":
        prep, inputs = None, medallion_inputs(a.seed)
    else:
        prep = prepare(cp, a.workload)
        inputs = os.path.join(prep, "corpus")
    run = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    out = os.path.join(run, "out")
    os.makedirs(out)
    try:
        rc = java(cp, "perfbench.Main",
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--cores", str(cores()),
                   "--work", os.path.join(run, "work"), "--out", out,
                   "--testdata", TESTDATA, "--inputs", inputs],
                  os.path.join(run, "jvm.log"), run, JVM_TIMEOUT_S)
        if rc != 0:
            with open(os.path.join(run, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        ops = read_csv(os.path.join(out, "ops.csv"))
        results = run_checks(res, prep)
        e2e, info = end_to_end(a.workload, res, ops)
        named = workload_named(a.workload, e2e, info, res, ops)
        if a.trace:
            spans = [dict(r, id=int(r["id"]), parent=int(r["parent"]),
                          start_us=int(r["start_us"]), end_us=int(r["end_us"]),
                          gc_ms=float(r["gc_ms"])) for r in read_csv(os.path.join(out, "spans.csv"))]
            jobs = [dict(span=int(r["span"]), start_ms=int(r["start_ms"]), end_ms=int(r["end_ms"]))
                    for r in read_csv(os.path.join(out, "jobs.csv"))]
            stages = [{k: (int(v) if k != "stage" else v) for k, v in r.items()}
                      for r in read_csv(os.path.join(out, "stages.csv"))]
            reported = metrics.layer_metrics(spans, jobs, stages, res["cores"], res["extras"])
        else:
            reported = e2e or {}
    finally:
        shutil.rmtree(run, ignore_errors=True)

    for name, ok, detail in results:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    print(f"{a.workload} timing: session {res['session_s']:.1f}s set-up {res['setup_s']:.1f}s "
          f"window {res['busy_s']:.1f}s checks {res['finish_s']:.1f}s")
    print(f"{a.workload} operations: " + " ".join(
        f"{o['kind']}={int(o['dur_ns']) / 1e9:.3f}{'' if o['ok'] == '1' else '!'}" for o in ops))
    for name, (v, unit) in named.items():
        print(f"{a.workload} {name} = {v:.6g} {unit}")
    for name, o in ((o["kind"], o) for o in ops if o["ok"] != "1"):
        print(f"failed operation {name} #{o['seq']}: {o['error']}")
    overhead_file = os.path.join(CACHE, f"untraced_{a.workload}.json")
    if e2e and not a.trace:
        with open(overhead_file, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    elif e2e and os.path.exists(overhead_file):
        with open(overhead_file) as f:
            base = json.load(f)
        for k, (v, unit) in e2e.items():
            if base.get(k):
                print(f"tracing overhead {k}: traced {v:.6g} vs untraced {base[k]:.6g} {unit} "
                      f"({(v / base[k] - 1) * 100:+.1f}%)")
    correct = all(ok for _, ok, _ in results) and e2e is not None
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": sum(o["ok"] != "1" for o in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
