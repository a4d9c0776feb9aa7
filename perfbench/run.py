#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload serve-fit --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
harness from source with the repository's sbt toolchain (offline);
later runs reuse the build while the sources are unchanged. The tables
are generated once (fixed generator seed); --seed sets the operation
order of every cycle and the tick stream's order and jitter. The harness runs in its own JVM; afterwards
every distinct operation's output is checked against its DuckDB oracle
(or, for ingest-mixed, against a batch keep-latest over the generated
events). The second-to-last line of stdout is the full report (every
metric with its unit, sample counts, settings, verdict); the last line
is the result object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Traced runs also keep their spans under
<work>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # leave nothing behind next to the sources
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

SF = 0.005             # data scale: lineitem = 30,000 rows
DATA_SEED = 0          # the tables are fixed; --seed orders operations and ticks
TICK_PERIOD_MS = 100   # ingest-mixed: one tick file due every 100 ms ...
TICK_ROWS = 40         # ... of 40 events: 400 events/s offered
RUN_LIMIT_S = 170      # whole run, build excluded
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
WORKLOADS = ("serve-fit", "ingest-mixed")
# end-to-end metrics the report prints (name → unit); the result line
# carries the subset BENCHMARK.json gates on
REPORT_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s",
                "failed_ratio": "ratio", "resident_gb": "GB", "ingest_eps": "events/s",
                "fresh_p50_s": "s", "fresh_p90_s": "s", "space_amp": "ratio"}


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 formula: half of MemTotal in whole GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compile graft + the harness; return the runtime classpath."""
    stamp = os.path.join(work, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old_fp, cp = f.read().split("\n", 1)
        if old_fp == fp:
            return cp.strip()
    # offline: dependencies come from the local coursier cache only;
    # sbt's own global state lives in the work directory
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(work, 'sbt-global')}"]
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "-Xmx2g")] + opts))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             timeout=800)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or ":" not in cp:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp + ".tmp", "w") as f:
        f.write(fp + "\n" + cp)
    os.replace(stamp + ".tmp", stamp)
    return cp


def ticks(work, data, seed, seconds):
    """Stage the ingest-mixed tick files and their open-loop schedule.

    Ticks are the trades projection (ts, token_id, price, usd, event_id)
    of the generated lineitem rows, in event-time order with seeded
    tie-breaks, plus `created_ms`: the file's due time, in ms after the
    steady phase starts. Files 0 and 1 are placed in set-up; file i ≥ 2
    is due at i × period ± a seeded jitter of a quarter period."""
    out = os.path.join(work, "ticks", f"sf{SF}-seed{seed}-{seconds}s")
    if os.path.exists(os.path.join(out, "schedule.txt")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    li = pq.read_table(os.path.join(data, "lineitem.parquet"),
                       columns=["l_partkey", "l_quantity", "l_extendedprice",
                                "l_discount", "l_shipdate"])
    ts = li["l_shipdate"].cast(pa.int64()).to_numpy()
    order = np.lexsort((rng.random(len(ts)), ts))
    nfiles = 3 + (seconds * 1000) // TICK_PERIOD_MS
    order = order[: nfiles * TICK_ROWS]
    usd = np.round(li["l_extendedprice"].to_numpy()[order] *
                   (1.0 - li["l_discount"].to_numpy()[order]), 4)
    qty = li["l_quantity"].to_numpy()[order]
    jitter = rng.uniform(-0.25, 0.25, nfiles) * TICK_PERIOD_MS
    due = [0, 0] + [int(round(i * TICK_PERIOD_MS + jitter[i])) for i in range(2, nfiles)]
    lines = []
    for i in range(nfiles):
        s = slice(i * TICK_ROWS, (i + 1) * TICK_ROWS)
        name = f"tick-{i:05d}.parquet"
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(s.start, s.stop), pa.int64()),
            "ts": pa.array(ts[order[s]], pa.timestamp("us")),
            "token_id": pa.array(li["l_partkey"].to_numpy()[order[s]], pa.int64()),
            "price": usd[s] / qty[s],
            "usd": usd[s],
            "created_ms": pa.array(np.full(TICK_ROWS, due[i]), pa.int64())}),
            os.path.join(out, name))
        lines.append(f"{name} {due[i]}")
    with open(os.path.join(out, "schedule.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return out


def harness(cp, args, data, tick_dir, run_dir, deadline):
    out = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # the MV disk layer stays off: every cold number is built in-process
    env["SPARK_GRAFT_MV_DISK"] = "off"
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", run_dir, "--ticks", tick_dir or "-",
           "--out", out, "--cores", str(cores()), "--heap", heap()]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    with open(out) as f:
        result = json.load(f)
    result["spans_file"] = out + ".spans"
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload}; choose one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"graft sources not found under {ROOT} (run from the repository root)")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json not found")
    with open(bench_file) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(work, exist_ok=True)

    cp = build(work)
    started = time.time()
    data = gen.write(os.path.join(work, "data", f"sf{SF}"), SF, DATA_SEED)
    tick_dir = ticks(work, data, args.seed, args.seconds) if args.workload == "ingest-mixed" else None
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = harness(cp, args, data, tick_dir, run_dir, started + RUN_LIMIT_S)
        if result is None:
            die("harness did not finish; no result")
        if args.workload == "serve-fit":
            diffs = check.oracles(data, os.path.join(run_dir, "out"), run_dir, cores())
        else:
            diffs = check.ingest(tick_dir, os.path.join(run_dir, "out"), run_dir, cores())
        if args.trace and os.path.exists(result["spans_file"]):
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            with open(result["spans_file"]) as f:
                spans = json.load(f)
            with open(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"layers": result.get("layers", {}),
                           "setup_attribution": result.get("setup_attribution", []),
                           "report": result.get("report", {}), "spans": spans}, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    status = result.get("status")
    mismatched = {k: v for k, v in diffs.items() if v is not None}
    correct = status == "ok" and not mismatched and len(diffs) > 0
    e2e = result.get("e2e", {})
    layers = result.get("layers", {})
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "status": status,
        "verdict": {"correct": correct, "checked": len(diffs),
                    "mismatched": mismatched},
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in REPORT_UNITS.items() if k in e2e},
        "attempted": result.get("attempted", 0), "failed": result.get("failed", 0),
        "samples": result.get("report", {}),
    }
    print(json.dumps(report, sort_keys=True))
    src = layers if args.trace else e2e
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": correct,
        "attempted": int(result.get("attempted", 0)) or 1,
        "failed": int(result.get("failed", 0)),
        "metrics": {m["name"]: {"value": float(src.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
                    for m in wanted}}))
    if status != "ok":
        sys.exit(1)


if __name__ == "__main__":
    main()
