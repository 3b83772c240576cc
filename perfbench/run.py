#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md and BENCHMARK.json).

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload W --seed N --seconds S --repeat K
  python3 perfbench/run.py --workload W --seed N --seconds S --inject FAULT

Run from the repository root. Builds the engine and the harness on first
use (perfbench/build.py), runs the workload in one JVM on a local Spark
session with one core per CPU, verifies every output, and prints as its
last stdout line one JSON object: correct, attempted, failed and metrics —
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A traced run also writes its span dump next to the run records and reports
the tracing overhead against an untraced run of the same seed.

--repeat K runs the workload K times (seeds N..N+K-1) and prints each
end-to-end metric's spread (IQR / median) next to its bound.
--inject corrupt_block|wrong_query plants a fault the checks must catch.

Exit status is 0 only when every op succeeded and every check passed.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import build  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175  # one invocation, build excepted, ends within this
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def remaining(deadline):
    left = deadline - time.time()
    if left < 5:
        raise SystemExit("perfbench: out of time")
    return left


def run_jvm(workload, seed, seconds, trace, deadline, inject=""):
    """One harness JVM; returns its raw record (dict)."""
    work = os.path.join(OUT, "work", workload)
    subprocess.run(["rm", "-rf", work], check=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    record = os.path.join(OUT, "records", f"{workload}-{seed}-{trace}.json")
    if os.path.exists(record):
        os.remove(record)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", build.classpath(), "graft.perfbench.PerfBench",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--record", record,
            "--queries", ",".join(analysis.QUERIES)]
    if inject:
        cmd += ["--inject", inject]
    log = os.path.join(OUT, "records", f"{workload}-{seed}-{trace}.log")
    with open(log, "w") as fh:
        try:
            subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work,
                           timeout=remaining(deadline), check=False)
        except subprocess.TimeoutExpired:
            pass  # subprocess.run kills and reaps the JVM on timeout
    if not os.path.exists(record):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: {workload} produced no run record (log: {log})")
    with open(record) as fh:
        rec = json.load(fh)
    rec["log"] = log
    rec["work"] = work
    return rec


def oracle_check(rec, deadline):
    """DuckDB oracle over the query surface's cold-pass outputs and the
    tables they were computed from (tools/check_oracle.py)."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    r = subprocess.run([sys.executable, tool, rec["sql_data"], rec["sql_out"]], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=remaining(deadline))
    bad = [ln for ln in r.stdout.splitlines() if ln.startswith(("FAIL", "ERR"))]
    if r.returncode != 0 and not bad:
        bad = [r.stdout[-500:]]
    return len(bad), bad


def evaluate(rec, deadline):
    """(attempted, failed, errors) after the external checks."""
    attempted, failed = rec["attempted"], rec["failed"]
    errors = list(rec.get("errors", []))
    if rec.get("sql_out"):
        n, bad = oracle_check(rec, deadline)
        attempted += len(analysis.QUERIES)
        failed += n
        errors += bad
    subprocess.run(["rm", "-rf", rec["work"]], check=True)
    return attempted, failed, errors


def untraced_key(a):
    """What an untraced run's saved record must match to stand in for a new
    one: the build (a stamp of every compiled source) and the seconds."""
    with open(build.STAMP) as fh:
        return {"build": fh.read().strip(), "seconds": a.seconds}


def save_untraced(a, rec):
    rec.update(untraced_key(a))
    with open(os.path.join(OUT, "records", f"{a.workload}-{a.seed}-0.json"), "w") as fh:
        json.dump(rec, fh)


def untraced_record(a, deadline):
    """The untraced run of the same seed and build, for the tracing
    overhead: the saved record of an earlier untraced run in this checkout,
    else a new run."""
    path = os.path.join(OUT, "records", f"{a.workload}-{a.seed}-0.json")
    if os.path.exists(path):
        with open(path) as fh:
            base = json.load(fh)
        key = untraced_key(a)
        if all(base.get(k) == v for k, v in key.items()):
            return base
    base = run_jvm(a.workload, a.seed, a.seconds, 0, deadline)
    subprocess.run(["rm", "-rf", base["work"]], check=True)
    save_untraced(a, base)
    return base


def run_once(a):
    s = spec()
    build.build()
    deadline = time.time() + RUN_LIMIT_S
    if a.trace:
        untraced = untraced_record(a, deadline)
    rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, deadline, a.inject)
    attempted, failed, errors = evaluate(rec, deadline)
    rec["failed"] = failed
    rec["attempted"] = attempted
    e2e = analysis.end_to_end(rec)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": e2e, "headline": analysis.headline(rec), "load": analysis.load(rec),
              "setup": {k: rec.get(k) for k in ("session_s", "session_cpu_s", "setup_reps_s",
                                                "setup_reps_cpu_s", "warmup_s", "warmup_cpu_s")},
              "load_samples": {k: rec.get(k) for k in
                               ("load_start", "load_measure_start", "load_measure_end", "load_end")},
              "errors": errors[:20]}
    if a.trace:
        base_e2e = analysis.end_to_end(untraced)
        m = analysis.layers(rec)
        m.update(analysis.headline(rec))
        m.update(analysis.load(rec))
        for k, now, base in (("unit_s", analysis.unit_s(rec), analysis.unit_s(untraced)),
                             ("unit_cpu_s", e2e["unit_cpu_s"], base_e2e["unit_cpu_s"])):
            m[f"trace.overhead.{k}"] = now / base - 1.0 if base else 0.0
        names = analysis.per_layer_names()
        units = {x["name"]: x["unit"] for x in s["per_layer"]}
        metrics = {n: {"value": float(m.get(n, 0.0) or 0.0), "unit": units[n]} for n in names}
        spans_file = os.path.join(OUT, "records", f"{a.workload}-{a.seed}-spans.json")
        with open(spans_file, "w") as fh:
            json.dump({"spans": rec.get("spans", []), "jobs": rec.get("jobs", []),
                       "stages": rec.get("stages", []),
                       "self_s": analysis.self_times(rec.get("spans", []))}, fh)
        detail["spans_file"] = spans_file
        detail["tracing_overhead"] = {k: metrics[f"trace.overhead.{k}"]["value"]
                                      for k in ("unit_s", "unit_cpu_s")}
    else:
        if not a.inject:
            save_untraced(a, rec)
        metrics = {x["name"]: {"value": e2e[x["name"]], "unit": x["unit"]} for x in s["end_to_end"]}
    print(json.dumps({"detail": detail}))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return result


def repeat(a):
    s = spec()
    bounds = {x["name"]: x["bound"] for x in s["end_to_end"]}
    values = {n: [] for n in bounds}
    ok = True
    for i in range(a.repeat):
        a1 = argparse.Namespace(**vars(a))
        a1.seed = a.seed + i
        a1.repeat = 0
        r = run_once(a1)
        ok = ok and r["correct"]
        for n in bounds:
            values[n].append(r["metrics"][n]["value"])
    report = {n: {"median": analysis.median(v), "spread": analysis.spread(v), "bound": bounds[n],
                  "within_third": analysis.spread(v) < bounds[n] / 3, "values": v}
              for n, v in values.items()}
    print(json.dumps({"repeat": a.repeat, "workload": a.workload, "spreads": report}))
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_roundtrip", "serve_mix"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    p.add_argument("--repeat", type=int, default=0)
    p.add_argument("--inject", default="", choices=["", "corrupt_block", "wrong_query"])
    a = p.parse_args()
    t0 = time.time()
    if a.repeat:
        ok = repeat(a)
    else:
        ok = run_once(a)["correct"]
    print(f"perfbench: {a.workload} finished in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
