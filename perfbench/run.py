#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from the sources in this checkout (once;
later runs reuse the build while the sources are unchanged), generates
the workload's inputs from the seed, and runs the harness in one JVM at
local[4]: set-up, timed passes (one per 5 s of S, at least two), then
each query's output is checked against graft's DuckDB oracle.

The last stdout line is the result: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. A full record of the run
(stamp, inputs, per-query times, oracle report) is written under the
work directory, `$CARGO_TARGET_DIR` or `.bench_build`, in `perfbench/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
HEAP = "2g"
# --seconds sets the number of timed passes, one per PASS_S of it and at
# least two, so the sample count never depends on the speed of the code
# under test.
PASS_S = 5.0

# Closed loop, one client: each query runs after the previous one ends.
# BENCHMARK.json lists the workloads the benchmark is judged on; the
# others run the same way, for A/B work on the layers they isolate.
FEATURIZE = ["ts_pipeline_full", "ts_tensors", "ts_taylor_trailing", "ts_rollmean"]
WORKLOADS = {
    # The series shuffle, the sort, the Window and the frame-fold kernels
    # do the work.
    "featurize": FEATURIZE,
    # The same queries over heavy-tailed series lengths: per-group state,
    # interior folds, few sort keys and uneven partitions.
    "featurize_long": FEATURIZE,
    # graft.dedup, graft.functions and the text kernels; no ts window path.
    "curation": ["text_curation", "dedup_minhash", "dedup_containment", "text_bpe_encode"],
    # Job latency, not data: sequential radix and histogram rounds.
    "quantiles": ["q_quantiles", "q_quantiles_exactd", "q_quantiles_gexactd", "q_quantiles_hist",
                  "q_quantiles_ghist", "q_quantiles_approx", "stats_profile", "ts_rollquantiles",
                  "ts_hampel", "ts_robust_zscore", "ts_winsorize", "ts_rank"],
}

# The JDK 17 module opens graft's build.sbt gives forked runs; Spark needs
# them when the session is created outside spark-submit.
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def source_files():
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(work):
    """Compiles graft and the harness with sbt; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft sources not found under {ROOT}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    bdir = os.path.join(work, "build")
    stamp, cpfile = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(stamp) and os.path.exists(cpfile):
        with open(stamp) as f, open(cpfile) as g:
            if f.read() == digest:
                return g.read(), digest
    if shutil.which("sbt") is None:
        fail("sbt not found")
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=os.path.join(HERE, "harness"),
                            env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = next((x for x in reversed(lines) if ".jar" in x and " " not in x.strip()), None)
    if rc != 0 or cp is None:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cpfile, "w") as f:
        f.write(cp.strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cp.strip(), digest


def inputs(work, workload, seed):
    """Generated input directory for (workload, seed), cached, plus its stats."""
    d = os.path.join(work, "data", f"v{gen.VERSION}-{workload}-{seed}")
    stats_file = os.path.join(d, "stats.json")
    if not os.path.exists(stats_file):
        shutil.rmtree(d, ignore_errors=True)
        stats = gen.generate(workload, seed, d + ".tmp")
        with open(os.path.join(d + ".tmp", "stats.json"), "w") as f:
            json.dump(stats, f)
        os.replace(d + ".tmp", d)
    with open(stats_file) as f:
        return d, json.load(f)


def tail(samples):
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    s = sorted(samples)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


def git_head():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        p = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        return None
    return ref


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = work_dir()
    cp, digest = build(work)
    data, stats = inputs(work, a.workload, a.seed)
    queries = WORKLOADS[a.workload]
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    out = os.path.join(work, "runs", run_id)
    os.makedirs(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "graftbench.Main", f"data={data}", f"out={out}",
             f"passes={max(2, round(a.seconds / PASS_S))}", f"trace={a.trace}",
             f"cores={CORES}", f"queries={','.join(queries)}"]
    launch_us = time.time_ns() // 1000
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(java, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {out}/jvm.log")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"harness failed (rc={rc}); see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        r = json.load(f)

    check, oracle_s = oracle.check(data, out, queries, tmp)
    bad = {q: why for q, why in check.items() if why}
    execs = {q: len(ts) for q, ts in r["queries"].items()}
    attempted = sum(execs.values())
    threw = sum(len(v) for v in r["failures"].values())
    failed = threw + sum(execs[q] - len(r["failures"].get(q, [])) for q in bad)
    correct = not bad and threw == 0 and not r["setup_errors"]

    untraced = [p["s"] for p in r["passes"] if not p["traced"]]
    traced = [p["s"] for p in r["passes"] if p["traced"]]
    samples = [t for ts in r["queries"].values() for t in ts]
    tail_v, tail_pct = tail(samples)
    e2e = {}
    if not a.trace:
        e2e = {
            "setup_s": (r["setup_end_us"] - launch_us) / 1e6,
            "pass_s": statistics.median(untraced),
            "query_p50_s": statistics.median(samples),
            "query_tail_s": tail_v,
            "exec_mem_peak_mb": r["peak_exec_mem_bytes"] / 2 ** 20,
        }
    layers = {}
    if a.trace:
        tp = r["traced_passes"]
        layers = {k: statistics.median(p[k] for p in tp) for k in tp[0]}
        layers.update(r["kernels"])
        layers["trace.pass_s"] = statistics.median(traced)
        layers["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1.0

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "git_head": git_head(), "source_digest": digest, "cores": CORES, "heap": HEAP,
        "inputs": stats, "queries": queries,
        "spark_graft_conf": r["spark_graft_conf"],
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "spark_version": r["spark_version"],
        "phases_s": {"jvm": (r["main_start_us"] - launch_us) / 1e6,
                     "session": (r["session_us"] - r["main_start_us"]) / 1e6,
                     "open": (r["open_us"] - r["session_us"]) / 1e6,
                     "setup_pass": (r["setup_end_us"] - r["open_us"]) / 1e6,
                     "timed": (r["timed_end_us"] - r["setup_end_us"]) / 1e6,
                     "oracle": oracle_s},
        "passes": r["passes"], "query_times": r["queries"], "reads": r["reads"],
        "failures": r["failures"], "setup_errors": r["setup_errors"], "oracle": check,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "tail_percentile": tail_pct, "samples": len(samples),
        "metrics": e2e or layers, "kernel_ops": r["kernel_ops"],
    }
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    got = e2e or layers
    # printed and recorded, but not bounded: single order statistics of
    # eight executions, they spread too much from run to run on a shared host
    units = {"query_p50_s": "s", "query_tail_s": "s", **wanted}
    for k, v in sorted(got.items()):
        print(f"  {k:44s} {v:16.6f} {units[k]}", file=sys.stderr)
    print(f"  {'failed_frac':44s} {failed / attempted:16.6f} ratio ({failed}/{attempted})",
          file=sys.stderr)
    if not a.trace:
        print(f"  query_tail_s is p{tail_pct:.1f} of {len(samples)} executions", file=sys.stderr)
    for q, why in bad.items():
        print(f"  oracle {q}: {why}", file=sys.stderr)
    for q, errs in r["failures"].items():
        print(f"  failed {q}: {errs[0]}", file=sys.stderr)
    shutil.rmtree(os.path.join(out, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)

    missing = sorted(set(wanted) - set(got))
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": got[k], "unit": u} for k, u in wanted.items()}}))


if __name__ == "__main__":
    main()
