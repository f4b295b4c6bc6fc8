#!/usr/bin/env python3
"""graft benchmark: masking throughput and an analytics query mix.

Usage, from the repository root:

    python3 perfbench/run.py --workload mask_etl|analytics_mix|mask_kdf \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source with sbt when the sources changed
(output under .bench_build/), runs one JVM on local[nproc] with a fixed heap,
checks every op's output, and prints one JSON object as the last line of
stdout. With --trace 0 it holds the end-to-end metrics, with --trace 1 the
per-layer metrics. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "4g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project"), os.path.join("perfbench", "src", "main")]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found next to perfbench/; run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{source_stamp()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("building graft and the harness with sbt ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD}/build.log)")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(classpath, args, work, budget_s):
    out = os.path.join(work, "record.json")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(os.cpu_count()), "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {budget_s:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"benchmark JVM failed with exit code {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def oracle_checks(record):
    """Compares each analytics op's saved rows with the DuckDB oracle."""
    pending = [op for op in record["ops"] if op.get("oracle_check")]
    if not pending:
        return
    sys.path.insert(0, HERE)
    from oracle import Oracle
    oracle = Oracle(record["oracle"]["data_dir"], record["oracle"]["sql"])
    for op in pending:
        op["failures"] = op["failures"] + oracle.check(op["item"], op["oracle_check"])


def tail(walls):
    """The highest percentile with at least ten timings beyond it."""
    s = sorted(walls)
    k = len(s) - 11
    if k < 0:
        return None, None
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(record):
    ops = [op for op in record["ops"] if not op["traced"]]
    ok = [op for op in ops if not op["failures"]]
    walls = [op["wall_s"] for op in ok]
    t, pct = tail(walls)
    if t is None:
        raise SystemExit(f"only {len(ok)} correct ops; the tail needs 11")
    print(f"op_tail_s is p{pct:.1f} of {len(walls)} op timings; "
          f"setup rounds {[round(s, 3) for s in record['setup_s']]}")
    busy = sum(op["wall_s"] for op in ops)
    values = {
        "setup_s": statistics.median(record["setup_s"]),
        "ops_per_s": len(ok) / busy,
        "op_p50_s": statistics.median(walls),
        "op_tail_s": t,
        "cpu_s_per_op": sum(op["cpu_s"] for op in ops) / len(ok),
        "mem_peak_mb": max(op["heap_mb"] for op in ops),
        "ok_ops_ratio": len(ok) / len(ops),
    }
    return values


def self_times(spans):
    """Self time of every span: its duration minus the part its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        reach, covered = lo, 0.0
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out.append((s, (hi - lo - covered) / 1000.0))
    return out


def per_layer(record, names):
    traced = [op for op in record["ops"] if op["traced"] and not op["failures"]]
    untraced = [op for op in record["ops"] if not op["traced"] and not op["failures"]]
    if not traced:
        raise SystemExit("no correct traced op")
    values = {}
    for name in names:
        got = [op["layers"][name] for op in traced if name in op["layers"]]
        values[name] = sum(got) / len(got) if got else 0.0
    # span self times, per op, by span kind and by span name
    by_kind, by_name = {}, {}
    for s, self_s in self_times(record["spans"]):
        by_kind[s["kind"]] = by_kind.get(s["kind"], 0.0) + self_s
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_s
    n = len(traced)
    values["span.op_self_s"] = by_kind.get("op", 0.0) / n
    values["span.stage_self_s"] = by_kind.get("stage", 0.0) / n
    values["span.job_self_s"] = by_kind.get("job", 0.0) / n
    print("span self time per traced op (s):")
    for name, total in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(f"  {name:40s} {total / n:10.4f}")
    rate_u = len(untraced) / sum(op["wall_s"] for op in untraced)
    rate_t = len(traced) / sum(op["wall_s"] for op in traced)
    values["trace.untraced_ops_per_s"] = rate_u
    values["trace.traced_ops_per_s"] = rate_t
    values["trace.overhead_pct"] = 100.0 * (rate_u / rate_t - 1.0)
    return values


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def on_term(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, on_term)
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["mask_kdf", "mask_etl", "analytics_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    spec = load_spec()
    classpath = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = run_jvm(classpath, args, work, RUN_TIMEOUT_S)
        oracle_checks(record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the per-op record and, for a traced run, its spans
    with open(os.path.join(BUILD, f"record-{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump(record, fh)
    kind = "per_layer" if args.trace else "end_to_end"
    if args.trace:
        values = per_layer(record, [m["name"] for m in spec[kind]
                                    if not m["name"].startswith(("span.", "trace."))])
    else:
        values = end_to_end(record)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    ops = [op for op in record["ops"] if args.trace or not op["traced"]]
    failed = [op for op in ops if op["failures"]]
    for op in failed[:5]:
        print(f"FAILED {op['op']} {op['item']}: {'; '.join(op['failures'])[:400]}")
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
