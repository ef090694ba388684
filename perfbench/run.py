#!/usr/bin/env python3
"""Benchmark of the query engine: one workload, one seed, one fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (once per source state),
runs `perfbench.Harness` over the fixture tables in perfbench/fixtures
(the seed orders each pass; the inputs are the same for every seed)
under local[nproc] with one closed-loop client, checks every query's
warm-pass result against its DuckDB oracle with tools/check.py, and
prints a table of every metric with its unit, then one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics of a traced
run with --trace 1. Everything it writes goes under .bench_build/perfbench.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import layers  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# CPU steal above this share of a run marks its timings as taken on a
# busy host (meta host_busy); they are reported, not dropped
BUSY_STEAL_PCT = 2.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# command-line marks of JVMs whose load would inflate every timing
RIVALS = ("xsbt.boot", "sbt-launch", "org.apache.spark", "perfbench.Harness",
          "graft.Bench", "graft.Verify")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def rivals():
    """Other benchmark, sbt or Spark JVMs alive on this host."""
    me = os.getpid()
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and any(r in cmd for r in RIVALS):
            out.append(f"{pid}: {cmd[:120]}")
    return out


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            for f in fs if "target" not in d.split(os.sep)
            and (f.endswith((".scala", ".sbt", ".properties", ".java"))))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    # relative to sbt's working directory: sbt binds a unix socket under
    # its tmpdir, and a socket path may not exceed 107 bytes, which an
    # absolute path below a deep checkout does
    tmp = os.path.relpath(os.path.join(WORK, "sbt-tmp"), HERE)
    os.makedirs(os.path.join(HERE, tmp), exist_ok=True)
    opts = (f"-Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts, XDG_RUNTIME_DIR=tmp)
    t0 = time.time()
    sbt_log = os.path.join(WORK, "sbt.log")
    code = supervised(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        sbt_log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    with open(sbt_log) as f:
        out = f.read()
    lines = [x for x in out.splitlines() if x.strip()]
    if code != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(out[-5000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def parquet_rows(path):
    if os.path.isdir(path):
        return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


CORPUS = ("documents", "embeddings")


def corpus_for(cp, base, factor, files, cpus):
    """The ScaleUp-derived corpus, made once per (factor, files) in a JVM
    of its own: documents and embeddings as `factor` copies of the
    fixture tables in `base`, in `files` part files, checked against
    factor x the base row counts before first use."""
    d = os.path.join(WORK, "inputs",
                     f"corpus-{os.path.basename(base)}-f{factor}-x{files}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    out = os.path.join(WORK, "runs", "scaleup")
    shutil.rmtree(out, ignore_errors=True)
    harness(cp, out, {"mode": "scaleup", "in": base, "data": d,
                      "factor": factor, "files": files}, cpus)
    for t in CORPUS:
        want = factor * parquet_rows(os.path.join(base, f"{t}.parquet"))
        got = parquet_rows(os.path.join(d, f"{t}.parquet"))
        if got != want:
            raise SystemExit(f"derived {t} has {got} rows, want {want}")
    open(os.path.join(d, "_done"), "w").close()
    return d


def inputs(cp, spec, cpus):
    """The directory a run reads: the workload's fixture tables, with the
    derived corpus in place of documents and embeddings for a ScaleUp
    workload (as links to the fixtures and the one derivation)."""
    tables = os.path.join(FIXTURES, spec["fixture"])
    su = spec.get("scaleup")
    if not su:
        return tables
    corpus = corpus_for(cp, tables, su["factor"], su["files"], cpus)
    d = corpus + "-tables"
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        os.makedirs(d + ".tmp")
        for t in TABLES:
            src = corpus if t in CORPUS else tables
            os.symlink(os.path.join(src, f"{t}.parquet"),
                       os.path.join(d + ".tmp", f"{t}.parquet"))
        os.rename(d + ".tmp", d)
    return d


def _die_with_parent():
    # SIGKILL to the child when this process dies, however it dies
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def supervised(cmd, log_path, timeout, **kw):
    """Run `cmd` with its output in `log_path` and return its exit code.
    It runs in a process group of its own, which is killed, and waited
    for, on every way out of here: timeout, SIGTERM (see main) or error."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True, preexec_fn=_die_with_parent, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{cmd[0]} exceeded {timeout}s")
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def harness(cp, out, args, cpus):
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Harness", f"out={out}", f"cpus={cpus}"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=f"{out}/tmp")
    os.makedirs(f"{out}/tmp", exist_ok=True)
    code = supervised(cmd, f"{out}/harness.log", RUN_TIMEOUT_S, env=env)
    if code != 0:
        with open(f"{out}/harness.log") as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"harness exited {code}")


def oracle_check(data, out, names):
    """Failures of the warm-pass results against the DuckDB oracles, by
    query name, via the repository's own checker."""
    results = os.path.join(out, "results")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        data, results] + names, capture_output=True, text=True,
                       cwd=out)
    ok = {ln.split()[1] for ln in p.stdout.splitlines() if ln.startswith("OK ")}
    with open(os.path.join(results, "oracle_sql.json")) as f:
        have = set(json.load(f))
    return {n: ("no oracle" if n not in have else "oracle mismatch")
            for n in names if n not in ok}


def end_to_end(run):
    """pass_s sums each query's median over the untraced timed passes, so
    one disturbed sample of a query does not move it; passes with more
    host CPU steal than the others are left out (stats.quiet_passes). A
    sample that raised is left out, as graft.Bench leaves out a crashed
    query: its time is a crash, not a result. A query with no good
    sample is then missing from pass_s, and the run is already marked
    not correct."""
    used = stats.quiet_passes([p for p in run["passes"] if not p["traced"]])
    by_query = {}
    for p in used:
        for q in p["queries"]:
            if q["error"] is None:
                by_query.setdefault(q["name"], []).append(
                    (q["end_ms"] - q["start_ms"]) / 1e3)
    lat = [x for xs in by_query.values() for x in xs]
    p_tail, pct = stats.tail(lat)
    return {
        "pass_s": sum(stats.median(xs) for xs in by_query.values()),
        "query_p50_s": stats.median(lat),
        "setup_s": run["setup_s"],
    }, {"query_p90_s": p_tail, "query_p90_percentile": pct, "timed_queries": len(lat),
        "passes_used": len(used)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    for need in ("build.sbt", "src", os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"no {need} in {ROOT}: nothing to build and run")
    busy = rivals()
    if busy:
        raise SystemExit("refusing to start, other JVMs alive:\n  " + "\n  ".join(busy))

    spec = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    cpus = os.cpu_count()
    t0 = time.time()
    data = inputs(cp, spec, cpus)
    gen_s = time.time() - t0
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    hargs = {"queries": ",".join(spec["queries"]), "data": data, "seed": a.seed,
             "warm": spec["warm_passes"], "trace": a.trace,
             "passes": max(1, round(a.seconds / spec["pass_s"]))}
    load0, jif0 = os.getloadavg()[0], cpu_jiffies()
    harness(cp, out, hargs, cpus)
    load1, jif1 = os.getloadavg()[0], cpu_jiffies()
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)

    names = spec["queries"]
    bad = oracle_check(data, out, names)
    executed = run["warm"] + [q for p in run["passes"] for q in p["queries"]]
    errors = {}
    for q in executed:
        if q["error"]:
            errors.setdefault(q["name"], q["error"])
    attempted = len(executed)
    # a result that raised has no output to compare; count it once
    failed = sum(q["error"] is not None for q in executed) + sum(
        1 for q in run["warm"] if q["pass"] == 0 and q["name"] in bad and not q["error"])
    correct = not bad and not errors

    e2e, extra = end_to_end(run)
    steal = 100.0 * (jif1[1] - jif0[1]) / max(1, jif1[0] - jif0[0])
    meta = {
        "workload": a.workload, "seed": a.seed, "queries": len(names),
        "passes": len(run["passes"]), "nproc": cpus, "heap_mb": run["heap_mb"],
        "load_start": load0, "load_end": load1,
        "steal_pct": steal, "host_busy": steal > BUSY_STEAL_PCT,
        "input_gen_s": gen_s,
        "session_s": run["session_s"], "failed_frac": failed / attempted,
        "pass_steal_pct": [round(p["steal_pct"], 2) for p in run["passes"]],
        **extra,
    }
    if a.trace:
        result_rows = {n: parquet_rows(os.path.join(out, "results", n))
                       for n in names if os.path.isdir(os.path.join(out, "results", n))}
        metrics, doc = layers.layer_metrics(run, result_rows)
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"meta": meta, "metrics": metrics, **doc}, f)
    else:
        metrics = e2e

    for name, why in sorted({**bad, **errors}.items()):
        print(f"FAILED {name}: {why}")
    if meta["host_busy"]:
        log(f"CPU steal was {steal:.1f}% of this run: its timings are from a busy host")
    for k, v in sorted(meta.items()):
        print(f"meta     {k:<28} {v}")
    for k, v in sorted({**e2e, "failed_frac": meta["failed_frac"],
                        "query_p90_s": extra["query_p90_s"]}.items()):
        u = "ratio" if k == "failed_frac" else "s"
        print(f"e2e      {k:<28} {v:.6g} {u}")
    if a.trace:
        for k, v in sorted(metrics.items()):
            print(f"layer    {k:<28} {v:.6g} {layers.unit(k)}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": "s" if not a.trace else layers.unit(k)}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
