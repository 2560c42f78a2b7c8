#!/usr/bin/env python3
"""Benchmark of the graft warehouse library: CDC change sets and lake reads.
See README.md in this directory for workloads and metrics.

Usage (from the repository root):
    python3 nwbench/run.py --workload cdc_apply --seed 1 --seconds 8 --trace 0

Builds the library with the benchmark code on first use (sbt, offline),
generates the fixed source tables, runs one JVM for the workload, checks its
outputs and prints the result as one JSON object on the last line.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)

import gendata  # noqa: E402

WORKLOADS = {
    # name: (scale factor of the source tables, least blocks of ops in a run,
    #        blocks traced with --trace 1)
    "cdc_apply": (0.1, 3, 1),
    "lake_reads": (0.1, 4, 2),
}
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[nwbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile the library and the benchmark code with sbt once per source state."""
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log("building with sbt")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], cwd=HERE, env=env,
                          stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("nwbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, work, data, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "nwbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--data", data, "--out", out,
              "--min-blocks", str(WORKLOADS[args.workload][1]),
              "--trace-blocks", str(WORKLOADS[args.workload][2])])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=160)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("nwbench: JVM run timed out")
    for line in err.splitlines():
        if line.startswith("[nwbench]"):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise SystemExit(f"nwbench: JVM exited with {proc.returncode}")


# ---------------------------------------------------------------- checks

def norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)  # Decimal
    except (TypeError, ValueError):
        return str(v)


def same_rows(got, want):
    if len(got) != len(want):
        return False
    key = lambda r: json.dumps([round(x, 4) if isinstance(x, float) else x for x in r],
                               default=str)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def check_lake(results_file):
    """Runs each op's query over the plain parquet sources; returns mismatches."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    bad = 0
    with open(results_file) as f:
        lines = [json.loads(l) for l in f if l.strip()]
    for name, sql in lines[0]["views"].items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    for rec in lines[1:]:
        want = [[norm(v) for v in r] for r in con.execute(rec["ref"]).fetchall()]
        if not same_rows(rec["rows"], want):
            log(f"op {rec['op']} ({rec['kind']}) differs from the parquet query")
            bad += 1
    return bad


# ---------------------------------------------------------------- metrics

def p50(xs):
    return statistics.median(xs)


def pooled(series, prefix):
    return [x for k, xs in series.items() if k.startswith(prefix) for x in xs]


def typed_p50(series, prefix):
    """Mean over the op types of a series of each type's median."""
    return statistics.fmean(p50(xs) for k, xs in series.items() if k.startswith(prefix))


def timing(name, xs, unit="ms"):
    scale = 1000 if unit == "s" else 1
    return f"  {name}: {p50(xs) / scale:.4g} {unit} (n={len(xs)})"


def cpu_s_per_op(summary):
    """JVM process CPU time of the gated ops, per gated op."""
    return summary["cpu_s"] / max(summary["cpu_ops"], 1)


def report(summary, seconds_run):
    """Every metric of the workload by name, with its unit and sample count."""
    wl, series = summary["workload"], summary["series"]
    lines = [f"workload {wl} seed {summary['seed']}: attempted {summary['attempted']}, "
             f"failed {summary['failed']}, output checks "
             f"{'passed' if summary['failed'] == 0 else 'FAILED'}"]
    if wl == "cdc_apply":
        lines.append(timing("changeset_p50_ms", pooled(series, "a:")))
        lines.append(timing("readback_p50_ms", pooled(series, "b:")))
        lines += [timing(f"changeset_{k.split(':')[1]}_p50_ms", xs)
                  for k, xs in sorted(series.items()) if k.split(":")[0] in ("a", "side.a")]
        lines.append(f"  bytes_per_live_byte: {summary['extra']['bytes_per_live_byte']:.4f}")
    else:
        for cls in ("lookup", "scan", "analytic"):
            lines.append(timing(f"{cls}_p50_ms", pooled(series, f"{'b' if cls == 'analytic' else 'a'}:{cls}")))
        lines += [timing(f"{k[2:]}_p50_ms", xs) for k, xs in sorted(series.items())
                  if k[:2] in ("a:", "b:")]
    lines.append(f"  cpu_s_per_op: {cpu_s_per_op(summary):.4g} s "
                 f"(loop wall {summary['loop_s']:.1f} s, op cpu {summary['cpu_s']:.1f} s, "
                 f"{summary['cpu_ops']} gated ops of {summary['attempted']})")
    lines.append(f"  failed_ratio: {summary['failed'] / summary['attempted']:.4g}")
    lines.append(f"  setup_s: {p50(summary['setup_ms']) / 1000:.4g} s (median of "
                 f"{[round(x / 1000, 2) for x in summary['setup_ms']]})")
    lines.append(f"  run wall {seconds_run:.1f} s")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("nwbench: the library sources (src/main/scala) are not next to "
                         "the benchmark; run it from a checkout of the repository")
    started = time.time()
    cp = classpath()
    sf = WORKLOADS[args.workload][0]
    data = gendata.ensure(os.path.join(WORK, "data"), sf)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "summary.json")
    run_jvm(cp, args, work, data, out)
    summary = json.load(open(out))

    failed = summary["failed"]
    if summary["checked"] and args.workload == "lake_reads":
        failed += check_lake(os.path.join(work, "lake_results.jsonl"))
    summary["failed"] = min(failed, summary["attempted"])
    for line in report(summary, time.time() - started):
        print(line)

    series = summary["series"]
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in summary["layers"].items()}
        metrics["trace.overhead_ms"] = {
            "value": typed_p50(series, "traced.a:") - typed_p50(series, "a:"), "unit": "ms"}
    else:
        metrics = {
            "setup_s": {"value": p50(summary["setup_ms"]) / 1000, "unit": "s"},
            "op_a_ms": {"value": typed_p50(series, "a:"), "unit": "ms"},
            "op_b_ms": {"value": typed_p50(series, "b:"), "unit": "ms"},
            "cpu_s_per_op": {"value": cpu_s_per_op(summary), "unit": "s"},
        }
    print(json.dumps({"correct": summary["failed"] == 0, "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name == "sources.bytes_read" or name == "core.bytes_written":
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_per_changed_row"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
