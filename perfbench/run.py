#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {lookup,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It builds the library and the benchmark
program from source (sbt, once per checkout), generates the workload's
inputs from the seed (gen.py), runs the program in one JVM with at most
nproc client threads, checks every answer off the clock (check.py) and
prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The full record of the run (host
probes, per-key rows, failures, spans) goes to .bench_out/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

BUDGET_S = 170
HEAP = "3g"

END_TO_END = [("setup_s", "s"), ("peak_heap_mb", "MB"), ("p50_ms", "ms"), ("tail_ms", "ms"),
              ("ops_per_s", "1/s"), ("cold_s", "s"), ("fresh_frac", "ratio")]
PER_LAYER = [
    ("tables.resolve_ms", "ms"), ("tables.resolve_jobs", "count"),
    ("operators.construct_ms", "ms"), ("operators.construct_jobs", "count"),
    ("operators.construct_write_bytes", "bytes"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.task_busy_ms", "ms"), ("exec.task_wait_ms", "ms"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.skew_max", "ratio"), ("exec.exchanges", "count"),
    ("exec.broadcasts", "count"), ("exec.gc_ms", "ms"), ("exec.result_bytes", "bytes"),
]
# Not attributable to one operation when clients run concurrently: the
# classes Spark's code generator compiled while measuring (misses in its
# code cache), per timed operation.
CODEGEN = ("exec.codegen_classes", "count")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every source the build compiles: the run's code identity
    (the checkout is not necessarily a git repository)."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or fail("Spark not found", 2))))
    return os.path.join(home, "jars")


def build(digest):
    """Compile library + benchmark into .bench_build/<digest>; return the
    runtime classpath. Each source digest has its own compiled classes, so
    runs of different code in one checkout never share them."""
    out = os.path.join(ROOT, ".bench_build", digest)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", f"-Dperfbench.sparkJars={spark_jars()}",
            f"-Dperfbench.target={out}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    r = subprocess.run(["sbt", *opts, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines or not lines[-1].startswith(out + os.sep):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(cp, work, seconds, trace, deadline):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
           "-cp", cp, "perfbench.Main", "--work", work, "--seconds", str(seconds),
           "--trace", str(trace)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("benchmark program timed out", 4)
    log = open(os.path.join(work, "jvm.log")).read()
    sys.stderr.write("".join(l + "\n" for l in log.splitlines() if l.startswith("perfbench:")))
    if r.returncode != 0:
        sys.stderr.write(log[-6000:])
        fail(f"benchmark program exited with {r.returncode}", 5)
    return json.load(open(os.path.join(work, "result.json")))


def tail(values):
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, with its percentile."""
    s = sorted(values)
    if len(s) <= 10:
        return 0.0, s[0]
    return 100.0 * (len(s) - 10) / len(s), s[-11]


def slowest(by_key):
    """The slowest key's median warm run: each key's median over the warm
    passes, then the largest of these."""
    return max(statistics.median(v) for v in by_key.values())


def per_label(pairs):
    """Per-request rows: sample count and median latency by request."""
    by = {}
    for label, ms in pairs:
        by.setdefault(label, []).append(ms)
    return {k: {"n": len(v), "median_ms": statistics.median(v)} for k, v in sorted(by.items())}


def lookup_metrics(plan, res, work):
    lk = res["lookup"]
    con = check.connect(plan["data"], os.path.join(work, "orig"))
    bad = {}
    for i, ans in lk["answers"].items():
        why = check.check_request(con, plan["distinct"][int(i)], ans, res["oracles"], [])
        if why:
            bad[int(i)] = why
    ok, failures = [], []
    for steady, recs in ((False, lk["cold"]), (True, lk["records"])):
        for i, ns, h, end, err in recs:
            ans = lk["answers"].get(str(i))
            why = err or bad.get(i) or (None if ans and ans["hash"] == h else "answer differs")
            if why:
                failures.append((json.dumps(plan["distinct"][i]), why))
            elif steady:
                ok.append(ns / 1e6)
    rows = per_label([(json.dumps(plan["distinct"][i]), ns / 1e6)
                      for i, ns, h, end, err in lk["cold"] + lk["records"] if not err])
    pct, tail_ms = tail(ok) if ok else (0.0, 0.0)
    return dict(ops=ok, failures=failures, rows=rows,
                attempted=len(lk["cold"]) + len(lk["records"]),
                tail_ms=tail_ms, tail_what=f"p{pct:.1f} of {len(ok)} requests",
                ops_per_s=len(ok) / lk["elapsed_s"], cold_s=statistics.median(lk["cold_s"]),
                cold_all_s=lk["cold_s"],
                codegen_per_op=lk["codegen_classes"] / max(1, len(lk["records"])))


def pipeline_metrics(plan, res, work):
    pl = res["pipeline"]
    con = check.connect(plan["data"], os.path.join(work, "orig"))
    planted = check.load_planted(plan["data"])
    keys = [q for q in plan["requests"] if q["op"] == "key"]
    checked = {q["key"]: (c, check.check_request(con, q, c, res["oracles"], planted))
               for q, c in zip(keys, pl["check"])}
    failures, lat, rows, by_key = [], [], [], {}
    passes = [("cold", plan["requests"], pl["cold"])] + \
        [("settle", [keys[i] for i in s["order"]], s["ops"]) for s in pl["settle"]] + \
        [("warm", [keys[i] for i in w["order"]], w["ops"]) for w in pl["warm"]]
    for group, reqs, recs in passes:
        for q, rec in zip(reqs, recs):
            if "err" in rec:
                why = rec["err"]
            elif q["op"] == "key":
                c, why = checked[q["key"]]
                why = why or (None if rec["fp"] == c.get("fp") else "answer differs")
            else:
                why = check.check_request(con, q, rec, res["oracles"], planted)
            if why:
                failures.append((json.dumps(q), why))
                continue
            if group == "warm":
                lat.append(rec["ns"] / 1e6)
                by_key.setdefault(q["key"], []).append(rec["ns"] / 1e6)
            rows.append((f"{group} {q.get('key') or q['op']}", rec["ns"] / 1e6))
    passes_s = [w["ns"] / 1e9 for w in pl["warm"]]
    return dict(ops=lat, failures=failures, rows=per_label(rows),
                attempted=sum(len(recs) for _, _, recs in passes),
                tail_ms=slowest(by_key) if lat else 0.0,
                tail_what=f"the slowest key's median over {len(passes_s)} warm passes",
                ops_per_s=len(keys) / statistics.median(passes_s),
                cold_s=pl["cold_ns"] / 1e9, warm_key_ms=by_key,
                passes=[{"group": g, "s": p["ns"] / 1e9, "jit_ms": p["jit_ms"],
                         "codegen_classes": p["codegen"]}
                        for g in ("settle", "warm") for p in pl[g]],
                codegen_per_op=pl["codegen_classes"] / max(1, len(lat)))


def staleness(plan, res, work):
    """The probe's answers, asked after the in-place replacement, that
    differ from the replaced data: (stale share, stale request names)."""
    st = res["stale"]
    con = check.connect(st["dir"])
    planted = check.load_planted(os.path.join(work, "replacement"))
    stale = []
    for req, ans in zip(st["requests"], st["answers"]):
        req = json.loads(req)
        if check.check_request(con, req, ans, res["oracles"], planted):
            stale.append(req.get("key") or req["op"])
    return len(stale) / len(st["requests"]), stale


def layer_metrics(rows):
    """Per-layer numbers as a mean per timed operation, skew as the
    maximum over them."""
    out = {}
    for name, unit in PER_LAYER:
        vals = [r[name] for r in rows]
        v = max(vals) if name == "exec.skew_max" else sum(vals) / len(vals)
        out[name] = {"value": v, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lookup", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + BUDGET_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required", 2)
    digest = source_digest()
    cp = build(digest)
    deadline = max(deadline, time.time() + 120)  # a first-run build does not eat the run's time

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t = time.time()
        plan = gen.generate(a.workload, a.seed, work)
        print(f"perfbench: inputs generated in {time.time() - t:.2f} s", file=sys.stderr)
        res = run_jvm(cp, work, a.seconds, a.trace, deadline)
        t = time.time()
        m = {"lookup": lookup_metrics, "pipeline": pipeline_metrics}[a.workload](plan, res, work)
        frac, stale = staleness(plan, res, work)
        print(f"perfbench: answers checked in {time.time() - t:.2f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = m["failures"] + [("warm-up", f) for f in res["warmup_failures"]]
    for what, why in failures[:20]:
        print(f"perfbench: FAILED {what}: {why[:300]}", file=sys.stderr)
    if not m["ops"]:
        fail("no operation succeeded", 6)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "peak_heap_mb": res["heap"]["peak_after_gc_mb"],
        "p50_ms": statistics.median(m["ops"]),
        "tail_ms": m["tail_ms"],
        "ops_per_s": m["ops_per_s"],
        "cold_s": m["cold_s"],
        "fresh_frac": 1.0 - frac,
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "source_digest": digest, "nproc": res["cores"], "heap_max_mb": res["heap_max_mb"],
        "probe_before": res["probe_before"], "probe_after": res["probe_after"],
        "setup_s_all": res["setup_s"], "heap": res["heap"], "tail": m["tail_what"],
        "samples": len(m["ops"]), "attempted": m["attempted"],
        "failed": len(m["failures"]), "failures": failures[:50],
        "stale_frac": frac, "stale_answers": stale, "end_to_end": e2e, "rows": m["rows"],
        "cold_s_all": m.get("cold_all_s"), "passes": m.get("passes"),
        "codegen_classes_per_op": m["codegen_per_op"],
        "warm_key_ms": m.get("warm_key_ms"),
    }
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if a.trace:
        metrics = layer_metrics(res["layers"])
        metrics[CODEGEN[0]] = {"value": m["codegen_per_op"], "unit": CODEGEN[1]}
        detail["per_layer"] = metrics
        detail["per_layer_by_group"] = {
            g: {k: v["value"] for k, v in layer_metrics(
                [r for r in res["layers"] if r["group"] == g]).items()}
            for g in sorted({r["group"] for r in res["layers"]})}
        detail["layer_rows"] = res["layers"]
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        with open(os.path.join(out_dir, name + "-spans.jsonl"), "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(dict(zip(("op", "name", "parent", "start_ms", "end_ms"), s))) + "\n")
    print(f"perfbench: {a.workload} tail={m['tail_what']}, "
          f"stale={stale}, probes before={res['probe_before']} after={res['probe_after']}",
          file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": m["attempted"],
                      "failed": len(m["failures"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
