#!/usr/bin/env python3
"""The benchmark of record for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the JVM harness from
source (once per source state), generates the workload's seeded inputs and
their oracle digests (once per seed), runs one JVM with one Spark session
(set-up, cold pass, warm-up, warm passes for S seconds, check pass), checks every
output, and prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. It exits non-zero on any failed query or
wrong output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 120
# The heap is capped far above what any workload keeps, and is not pinned:
# a fixed young generation and a GC time goal G1 always meets make the heap
# grow only as the retained (old-generation) data grows, so peak_rss_mb
# follows what the engine keeps rather than G1's pause-time heuristics
HEAP_FLAGS = ["-Xmx8g", "-Xmn512m", "-XX:GCTimeRatio=1"]
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


def source_files():
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames[:] = sorted(x for x in dirnames if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(dirpath, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles the engine and harness with sbt when the sources changed;
    returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    fp = h.hexdigest()
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=800)
        out.write(r.stdout)
    lines = [x for x in r.stdout.splitlines() if x.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"sbt build failed (see {os.path.join(STATE, 'build.log')})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + lines[-1])
    return lines[-1]


def inputs(w, seed):
    """Generates (or reuses) the seeded inputs of a workload shape."""
    d = os.path.join(STATE, "inputs", f"{workloads.input_key(w)}-seed{seed}")
    marker = os.path.join(d, "_DIGEST")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        t0 = time.time()
        digest = gen.write(gen.rewrite(gen.base_tables(w["sf"]), seed, w["copies"], w["doc_len"]), d)
        with open(marker, "w") as f:
            json.dump({"digest": digest, "gen_s": time.time() - t0}, f)
    with open(marker) as f:
        m = json.load(f)
    log(f"inputs {d} digest {m['digest'][:16]} generated in {m['gen_s']:.2f} s")
    return d


def cached_json(path, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path, "w") as f:
        json.dump(value, f)
    return value


def check_outputs(w, report, input_dir, check_dir):
    """Returns the list of check failures (empty when every output is right)."""
    checks = {c["name"]: c for c in report["checks"]}
    oracles = {n: c["oracle"] for n, c in checks.items() if "oracle" in c}
    t0 = time.time()
    sql_key = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()[:16]
    expected = cached_json(os.path.join(input_dir, f"_ORACLE-{sql_key}.json"),
                           lambda: check.oracle_digests(input_dir, oracles))
    t1 = time.time()
    twins = w.get("twins", {})
    bad = []
    for name, c in checks.items():
        if "error" in c:
            bad.append(f"{name}: check pass threw {c['error']}")
            continue
        got = check.output_digest(os.path.join(check_dir, name))
        if got is None:
            bad.append(f"{name}: wrote no output")
        elif name in expected:
            if list(got) != list(expected[name]):
                bad.append(f"{name}: {got[0]} rows digest {got[1][:12]} != oracle "
                           f"{expected[name][0]} rows {expected[name][1][:12]}")
        else:
            twin = twins.get(name)
            if twin is None or twin not in expected:
                bad.append(f"{name}: no oracle and no oracled twin")
            elif got[0] == 0:
                bad.append(f"{name}: empty output")
            else:
                seen = cached_json(os.path.join(input_dir, f"_ROWS-{name}.json"), lambda: list(got))
                if list(got) != list(seen):
                    bad.append(f"{name}: digest {got[1][:12]} differs from an earlier run of "
                               f"this seed ({seen[1][:12]})")
    log(f"checked {len(checks)} outputs ({len(oracles)} oracled; oracle {t1 - t0:.2f} s, "
        f"digests {time.time() - t1:.2f} s): {len(bad)} failed")
    return bad


def run_jvm(cp, run_dir, args):
    """Runs the harness JVM with ``args``; returns its report."""
    report = os.path.join(run_dir, "report.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, *HEAP_FLAGS, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-cp", cp, "perfbench.Harness", "--report", report,
           "--cpus", str(len(os.sched_getaffinity(0))), *args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as out:
        launch = time.time() * 1000.0
        proc = subprocess.Popen(cmd + ["--launch-epoch-ms", repr(launch)],
                                stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
    if rc != 0 or not os.path.exists(report):
        fail(f"harness JVM exited with {rc} (log: {log_path})")
    with open(report) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", action="append", default=[],
                    help="QUERY=throw|wrong: inject a failure (the benchmark's own tests)")
    a = ap.parse_args(argv)
    w = workloads.get(a.workload)
    if w is None:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads.WORKLOADS)}")
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    input_dir = inputs(w, a.seed)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    check_dir = os.path.join(run_dir, "check")
    report = run_jvm(cp, run_dir, [
        "--workload", a.workload, "--input", input_dir, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--queries", ",".join(w["queries"]),
        "--check-queries", ",".join(w.get("twins", {}).values()) or ",",
        "--check-dir", check_dir, "--tamper", ",".join(a.tamper) or ","])
    bad = check_outputs(w, report, input_dir, check_dir)
    shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    executions = [q for p in report["passes"] for q in p["queries"]]
    threw = [f"pass {p['index']} {q['name']}: {q['error']}"
             for p in report["passes"] for q in p["queries"] if "error" in q]
    attempted = len(executions) + len(report["checks"])
    failed = len(threw) + len(bad)
    e2e, n_warm = metrics.end_to_end(report)
    if a.trace:
        out, accounting = traced_report(a, report, e2e)
        # each warm pass's accounting is one more check; a pass that fails it fails the run
        attempted += len(accounting)
        failed += sum(1 for v in accounting.values() if v)
        units = dict(metrics.PER_LAYER)
    else:
        out = e2e
        units = dict(metrics.END_TO_END)
    for b in threw + bad:
        log(f"FAILED {b}")
    log(f"{a.workload} seed {a.seed}: {n_warm} warm passes, check pass {report['check_s']:.2f} s, "
        f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    if not a.trace:
        summary = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace0.json")
        with open(summary, "w") as f:
            json.dump({"end_to_end": e2e, "warm_passes": n_warm, "failed": failed,
                       "attempted": attempted}, f)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def traced_report(a, report, e2e):
    """Per-layer metrics of a traced run and the accounting violations of
    each warm pass; writes the span trace and prints the layer table, the
    accounting check and the tracing overhead."""
    layers, warm, bad = metrics.per_layer(report)
    base = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace")
    with open(base + "-spans.json", "w") as f:
        json.dump(report["trace"], f)
    log(f"per-layer metrics ({a.workload}, seed {a.seed}), median over warm passes; "
        f"{', '.join(metrics.COLD_PASS)} from the cold pass:")
    for name, unit in metrics.PER_LAYER:
        value = "-" if layers[name] is None else f"{layers[name]:12.4f}"
        log(f"  {name:26s} {value:>12s} {unit}")
    for name in metrics.COLD_PASS:
        log(f"  {name:26s} {warm[name]:12.4f} in a warm pass (median)")
    violations = [f"pass {i}: {v}" for i, vs in sorted(bad.items()) for v in vs]
    log(f"accounting: {'OK' if not violations else f'FAILED, {len(violations)} violations'} "
        f"(build+plan+execute within {metrics.ACCOUNTING_SHARE:.0%} of each query's wall; "
        f"exec.task_s <= exec.run_s x slots; {len(bad)} warm passes)")
    for v in violations:
        log(f"  {v}")
    untraced = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            ref = json.load(f)["end_to_end"]
        log("tracing overhead against the untraced run of this seed:")
        for name, unit in metrics.END_TO_END:
            if ref.get(name) and e2e.get(name) is not None:
                log(f"  {name:18s} {ref[name]:10.4f} -> {e2e[name]:10.4f} {unit} "
                    f"({e2e[name] / ref[name] - 1:+.1%})")
    else:
        log("no untraced run of this seed yet: run --trace 0 first for the overhead")
    return layers, bad


if __name__ == "__main__":
    sys.exit(main())
