#!/usr/bin/env python3
"""Closed-loop benchmark of graft's registered queries, layer by layer.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload tpch_sf0.1 --seed 1 --seconds 14 --trace 0

It builds graft and the harness from source (once per checkout), generates
the workload's inputs (once per checkout), runs the harness JVM (a cold
set-up, two warm-up passes, then whole timed passes, at least three, until
--seconds is spent, in an order the seed permutes), checks every
query's output against DuckDB running graft's oracle SQL, and prints a
report followed by one JSON result line. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics and a span log. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # name: (generator scale, queries)
    "tpch_sf0.1": (0.1, [f"q_tpch{i}" for i in (1, 3, 9, 18)]),
    "iterative_graph": (0.01, ["q_graph_lpa"]),
}
HEAP = "2g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """sha256 over everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, work):
    """Compiles graft and the harness with sbt; returns the classpath."""
    digest = source_digest(root)
    cp_file, stamp = work / "classpath.txt", work / "build.sha256"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    log = work / "build.log"
    t0 = time.time()
    with open(log, "w") as f:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    f_out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not f_out or "classes" not in f_out[-1]:
        (work / "build.stdout").write_text(p.stdout)
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = f_out[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp, digest


def inputs_for(work, scale):
    """The generated tables for `scale`, made once per checkout (and again
    when gen.py changes); returns (directory, {table: rows and bytes})."""
    tag = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]
    d = work / "inputs" / f"scale{scale}-{tag}"
    if not (d / "stats.json").exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        stats = gen.generate(tmp, scale)
        (tmp / "stats.json").write_text(json.dumps(stats))
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d, json.loads((d / "stats.json").read_text())


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else [0.0] * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def summarise(rec, queries):
    """End-to-end metrics of an untraced run plus their context."""
    timed = [r for r in rec["runs"] if r["phase"] == "timed"]
    ok = [r for r in timed if r["error"] is None]
    lat = {q: [r["latency_s"] for r in ok if r["query"] == q] for q in queries}
    suite = sum(statistics.median(v) for v in lat.values() if v)
    passes = rec["pass_s"]
    all_lat = sorted(r["latency_s"] for r in ok)
    n = len(all_lat)
    execs = {q: sum(1 for r in timed if r["query"] == q) for q in queries}
    rows_per_pass = sum(rec["timed_rows_read"].get(q, 0) / execs[q]
                        for q in queries if execs[q])
    return {
        "suite_s": suite,
        "query_p50_s": statistics.median(all_lat) if all_lat else 0.0,
        # a run holds some 5-16 executions, too few for a percentile with
        # ten samples beyond it to lie above the median: the tail is the
        # slowest execution
        "query_tail_s": all_lat[-1] if all_lat else 0.0,
        "input_rows_per_s": rows_per_pass / suite if suite else 0.0,
    }, {
        "suite_s": {"passes": len(passes), "pass_median_s": statistics.median(passes)
                    if passes else None, "pass_quartiles_s": quartiles(passes),
                    "per_query_median_s": {q: statistics.median(v) if v else None
                                           for q, v in lat.items()},
                    "jobs_per_execution": {q: rec["timed_jobs"].get(q, 0) / execs[q]
                                           for q in queries if execs[q]}},
        "query_p50_s": {"samples": n},
        "query_tail_s": {"percentile": 100, "samples": n, "samples_beyond": 0},
        "input_rows_per_s": {"rows_per_pass": rows_per_pass},
    }


UNITS = {"suite_s": "s", "query_p50_s": "s", "query_tail_s": "s",
         "input_rows_per_s": "1/s", "ok_frac": "frac", "setup_s": "s",
         "peak_rss_mb": "MB"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", ".overhead", ".stage_skew")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = Path.cwd()
    if not (root / "build.sbt").exists() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    work = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    work.mkdir(parents=True, exist_ok=True)
    cp, digest = build(root, work)

    scale, queries = WORKLOADS[args.workload]
    input_dir, inputs = inputs_for(work, scale)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = work / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))

    # A fixed heap size, so timings do not depend on G1 shrinking the heap
    # after each System.gc() between queries; not pre-touched, so peak RSS
    # counts only the heap pages the run really used. No perf-data file:
    # the JVM would write it outside the checkout.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    out = run_dir / "out"
    cmd += ["-cp", cp, "perfbench.Main",
            "--input", str(input_dir), "--work", str(run_dir), "--out", str(out),
            "--queries", ",".join(queries), "--tables", ",".join(gen.TABLES),
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace), "--cores", str(cores),
            "--launch-ms", repr(time.time() * 1000)]
    with open(run_dir / "jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the time limit; see {run_dir / 'jvm.log'}", 4)
    if p.returncode != 0:
        fail(f"harness exited {p.returncode}; see {run_dir / 'jvm.log'}", 4)
    rec = json.loads((out / "result.json").read_text())

    # outputs vs the DuckDB oracle, on the exact input directory the queries read
    checks = oracle.check(root, input_dir, out, queries, gen.TABLES, run_dir / "tmp")
    for r in rec["runs"]:
        if r["phase"] == "warm" and r["pass"] == 0 and r["error"] is not None:
            checks[r["query"]] = (False, f"spark error: {r['error']}")
    mismatched = sorted(q for q, (ok, _) in checks.items() if not ok)

    timed = [r for r in rec["runs"] if r["phase"] == "timed"]
    threw = sum(1 for r in timed if r["error"] is not None)
    attempted = len(timed) + len(queries)
    failed = threw + len(mismatched)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(rec["layers"].items())}
        context = {}
    else:
        e2e, context = summarise(rec, queries)
        e2e["ok_frac"] = 1.0 - failed / attempted
        e2e["setup_s"] = rec["setup"]["setup_s"]
        e2e["peak_rss_mb"] = rec["peak_rss_mb"]
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        context["setup_s"] = rec["setup"]
        context["ok_frac"] = {"failed_frac": failed / attempted, "attempted": attempted,
                              "threw": threw, "oracle_mismatch": mismatched}

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": queries, "seconds": args.seconds, "warmup_s": rec["warmup_s"],
        "inputs": {t: {**inputs[t], "rows_read_back": rec["input_rows"].get(t)}
                   for t in gen.TABLES},
        "input_scale": scale,
        "rig": {**rec["rig"], "git_commit": git_commit(root), "source_sha256": digest,
                "note": "never compare with the BENCH_r* history (32 and 8 cores, min-of-3)"},
        "oracle": {q: {"pass": ok, "detail": d} for q, (ok, d) in sorted(checks.items())},
        "metrics": metrics, "context": context,
        "span_log": str(out / "trace.jsonl") if args.trace else None,
    }
    (work / "runs" / f"{run_id}.json").write_text(json.dumps(report, indent=1))

    for name, m in metrics.items():
        extra = context.get(name)
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}" +
              (f"  {json.dumps(extra)}" if extra else ""))
    for q, (ok, d) in sorted(checks.items()):
        print(f"oracle {'PASS' if ok else 'FAIL'} {q}: {d}")
    print(f"rig {json.dumps(report['rig'])}")
    print(json.dumps({"correct": not mismatched and threw == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
