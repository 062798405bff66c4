#!/usr/bin/env python3
"""graft benchmark: one run of one workload, or a comparison of two sets of runs.

Run (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness from source
with sbt (perfbench/build.sbt). Each run starts one JVM, which generates the
workload's inputs from the seed, measures for --seconds seconds and checks
the outputs. The traced run of online_kernels then starts a second JVM for
the catalog section, which gives the `queries` layer's values. The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run. Every run also leaves its full
record under perfbench/.work/runs/, and a traced run its spans.

Compare two sets of runs (directories of run records):
    python3 perfbench/run.py --compare <dirA> <dirB>

Record the kernel fingerprints of the current program for some seeds:
    python3 perfbench/run.py --record-fingerprints 1-12
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = {"vetl_stream": "2g", "online_kernels": "512m", metrics.CATALOG: "1g"}
RUN_TIMEOUT_S = 170
# measured seconds of the catalog section in a traced online_kernels run
CATALOG_SECONDS = 6
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln.strip() for ln in lines if "scala-2.13/classes" in ln and ":" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (log in {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def recorded_fingerprint(workload, seed):
    if not os.path.exists(FINGERPRINTS):
        return ""
    with open(FINGERPRINTS) as f:
        return json.load(f).get(workload, {}).get(str(seed), "")


def run_jvm(cp, workload, seed, seconds, trace, tag, recorded=""):
    """Runs one workload in a fresh JVM; returns (raw result or None, log
    path). The JVM has ended on return."""
    run_dir = os.path.join(WORK, "tmp", tag)
    os.makedirs(os.path.join(run_dir, "java"), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    # a fixed, pre-touched heap (-Xms = -Xmx) makes resident memory the
    # same in every run instead of following which heap regions GC used
    cmd = ["java", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch",
           f"-Xms{HEAP[workload]}", f"-Xmx{HEAP[workload]}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'java')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + run_dir]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out,
            "--work", run_dir]
    if recorded:
        cmd += ["--recorded", recorded]
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
    try:
        p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        return None, log
    with open(out) as f:
        return json.load(f), log


def fail_run(workload, log):
    with open(log) as f:
        sys.stderr.write("".join(f.readlines()[-40:]))
    die(f"the {workload} run did not finish (log in {log})", code=1)


def catalog_section(cp, seed, tag):
    """The catalog section of a traced run: the catalog query mix in its
    own JVM, then each query's output against its DuckDB oracle. Returns
    the raw result and the oracle verdicts."""
    raw, log = run_jvm(cp, metrics.CATALOG, seed, CATALOG_SECONDS, True, tag)
    if raw is None:
        fail_run(metrics.CATALOG, log)
    if raw["info"]["size"]["queries"] != metrics.QUERIES:
        die("the harness ran another query mix than metrics.QUERIES names")
    return raw, oracle_check(raw["info"]["data_dir"], raw["info"]["out_dir"], metrics.QUERIES)


def end_to_end(raw):
    tail_v, tail_p, n = stats.tail(raw["op_ms"])
    return {
        "setup_s": stats.median(raw["setup_s"]),
        "op_p50_ms": stats.median(raw["op_ms"]),
        "op_tail_ms": tail_v,
        "ops_per_s": len(raw["op_ms"]) / raw["timed_wall_s"] if raw["timed_wall_s"] > 0 else 0.0,
        "peak_rss_mb": raw["peak_rss_mb"],
    }, {"tail_percentile": tail_p, "samples": n}


def run(args):
    if args.workload not in metrics.WORKLOADS:
        die(f"unknown workload {args.workload}; one of {', '.join(metrics.WORKLOADS)}")
    cp = build()
    tag = f"{args.workload}-{args.seed}-{args.trace}-{int(time.time() * 1000)}"
    raw, log = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace == 1, tag,
                       recorded_fingerprint(args.workload, args.seed))
    if raw is None:
        fail_run(args.workload, log)

    oracle_results = []
    if args.workload == "online_kernels" and args.trace == 1:
        cat, oracle_results = catalog_section(cp, args.seed, f"{tag}-catalog")
        raw["layers"].update({k: v for k, v in cat["layers"].items()
                              if k.startswith("queries.") or k == "trace.self_ms.queries"})
        raw["attempted"] += cat["attempted"]
        raw["failed"] += cat["failed"]
        raw["failures"] += [f"catalog: {m}" for m in cat["failures"]]
        raw["info"]["catalog"] = cat["info"]
    err = stats.error_accounting(raw["attempted"], raw["failed"], len(oracle_results),
                                 sum(1 for _, ok, _ in oracle_results if not ok))
    failures = raw["failures"] + [f"oracle {n}: {m}" for n, ok, m in oracle_results if not ok]
    e2e, tail_info = end_to_end(raw)
    units = {n: u for n, u, _, _ in metrics.END_TO_END}
    layer_units = {n: u for n, u, _, _, _ in metrics.LAYERS}
    if args.trace == 1:
        reported = {n: {"value": float(raw["layers"].get(n, 0.0)), "unit": u}
                    for n, u in layer_units.items()}
    else:
        reported = {n: {"value": float(e2e[n]), "unit": units[n]} for n in units}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "operation": metrics.OPERATION[args.workload],
        "end_to_end": e2e, "tail": tail_info, "error": err, "failures": failures,
        "layers": raw["layers"], "info": raw["info"],
        "oracle": [{"query": n, "ok": ok, "detail": m} for n, ok, m in oracle_results],
        "sizes": raw["info"]["size"],
    }
    if args.workload == "vetl_stream":
        record["chunks"] = stats.chunk_accounting(raw["op_ms"], raw["timed_wall_s"],
                                                  raw["info"]["size"]["streams"])
        record["chunks"]["deadline_ms"] = 2000.0
    if args.trace == 1:
        # the traced-run artifact: each per-layer value beside the
        # end-to-end metric and workload it should move
        record["per_layer"] = [
            {"name": n, "value": raw["layers"].get(n), "unit": u, "moves": moves,
             "workload": w} for n, u, _, moves, w in metrics.LAYERS]
        record["tracing_overhead_pct"] = raw["layers"].get("trace.overhead_pct")
        record["spans_files"] = [
            os.path.relpath(os.path.join(d, "result.json.spans.jsonl"), ROOT)
            for d in run_dirs(tag) if os.path.exists(os.path.join(d, "result.json.spans.jsonl"))]
    rec_dir = os.path.join(args.record_dir or os.path.join(WORK, "runs"), args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    # keep the spans, drop the bulky per-run scratch (tables, outputs)
    for d in run_dirs(tag):
        cleanup(d)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "operation": metrics.OPERATION[args.workload],
                      "tail": tail_info, "error_rate": err["error_rate"],
                      "failures": failures[:5]}))
    print(json.dumps({"correct": err["failed"] == 0 and err["attempted"] >= 1,
                      "attempted": err["attempted"], "failed": err["failed"],
                      "metrics": reported}))


def oracle_check(data_dir, out_dir, names):
    """Checks each query's output against its DuckDB oracle with the
    repository's scripts/check.py; returns (query, ok, message) per name."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        data_dir, out_dir, *names],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL,
                       timeout=RUN_TIMEOUT_S)
    return check_verdicts(r.stdout, r.stderr, names)


def check_verdicts(stdout, stderr, names):
    """(query, ok, message) per name from check.py's PASS/FAIL lines. A
    query with no such line (no oracle SQL, or check.py itself failed)
    counts as failed."""
    verdicts = {}
    for line in stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL") and rest:
            verdicts[rest.split()[0].rstrip(":")] = (word == "PASS", line)
    why = (stderr.strip().splitlines() or ["no PASS or FAIL line"])[-1]
    return [(n, *verdicts.get(n, (False, f"check.py: {why}"))) for n in names]


def run_dirs(tag):
    import glob
    return sorted(glob.glob(os.path.join(WORK, "tmp", tag))
                  + glob.glob(os.path.join(WORK, "tmp", f"{tag}-catalog")))


def cleanup(run_dir):
    import shutil
    for name in os.listdir(run_dir):
        if name.endswith(".jsonl") or name in ("result.json", "jvm.log"):
            continue
        p = os.path.join(run_dir, name)
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)


def record_fingerprints(spec):
    lo, _, hi = spec.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    cp = build()
    table = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            table = json.load(f)
    w = "online_kernels"
    for s in seeds:
        raw, log = run_jvm(cp, w, s, 0, False, f"fp-{w}-{s}")
        if raw is None or raw["failed"]:
            die(f"fingerprint run {w} seed {s} failed (log in {log})")
        fp = raw["info"]["fingerprint"]
        table.setdefault(w, {})[str(s)] = fp
        print(w, s, fp, flush=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-dir", help="where the run record goes (default perfbench/.work/runs)")
    ap.add_argument("--compare", nargs=2, metavar=("DIR_A", "DIR_B"))
    ap.add_argument("--record-fingerprints", metavar="SEEDS")
    args = ap.parse_args()
    if args.compare:
        import compare
        compare.main(*args.compare)
    elif args.record_fingerprints:
        record_fingerprints(args.record_fingerprints)
    elif args.workload:
        run(args)
    else:
        ap.error("--workload, --compare or --record-fingerprints is required")


if __name__ == "__main__":
    main()
