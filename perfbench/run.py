#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source into .bench_build/ (or $CARGO_TARGET_DIR); later
runs reuse the build while the sources are unchanged. Each run
generates its inputs from the seed, runs the JVM harness once, checks
every timed operation's output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
A fuller record of the run (raw samples, load canary, percentile
details) is printed on the line before and kept under the build dir.
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest_large_docs", "graph_queries")
HEAP = "2g"
JARS = "/opt/spark/jars"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d in ("src/main/scala", "perfbench/src"):
        for base, _, files in os.walk(os.path.join(root, d)):
            out.extend(os.path.join(base, f) for f in files
                       if f.endswith(".scala"))
    return sorted(out)


def build(root, build_dir):
    """Compile once per source state; the stamp is a hash of the sources
    and the build script."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        die("no engine sources at src/main/scala; run from the repo root")
    files = sources(root) + [os.path.join(HERE, "build.sh")]
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return classes
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes],
                           cwd=root, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        die(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def percentile_tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    with n samples sorted ascending, the value at index n-1-beyond, as
    percentile 100*(n-beyond)/n. Below 2*beyond samples that percentile
    would not even reach the median, so the run's slowest sample is
    reported instead (percentile 100, 0 samples beyond)."""
    v = sorted(values)
    n = len(v)
    if n < 2 * beyond:
        return v[-1], 100.0, 0
    return v[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def prepare(workload, seed, work):
    """Generate the inputs; returns (harness config part, manifest)."""
    inputs = os.path.join(work, "inputs")
    if workload == "graph_queries":
        m = gen.graph_corpus(seed, inputs)
        return {"base": m["base"], "patches": m["patches"],
                "ops": m["params"], "warm_ops": m["warm_ops"]}, m
    m = gen.ingest_corpus(workload, seed, inputs)
    return {"adapters": m["adapters"], "warm": m["warm"],
            "shards": [s["dir"] for s in m["shards"]]}, m


def run_harness(classes, build_dir, cfg, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap (-Xms = -Xmx) keeps peak RSS from following G1's
    # adaptive resizing; no perf-data file in the system temp dir.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}:{JARS}/*", "perfbench.Harness",
              os.path.join(work, "config.json")])
    with open(os.path.join(work, "config.json"), "w") as fh:
        json.dump(cfg, fh)
    log = os.path.join(build_dir, "harness.log")
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                           cwd=work, timeout=170)
    if r.returncode != 0:
        die(f"harness exited {r.returncode}, see {log}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def check_ops(workload, rec, manifest):
    """Mark every timed op correct or not; returns the failure count."""
    failed = 0
    if workload == "graph_queries":
        import check
        replay = check.Replay()
        versions = [manifest["base_out"]] + [
            os.path.join(manifest["work"], f"v{v}")
            for v in range(1, len(manifest["versions"]))]
        expected = {}
        for op in rec["ops"]:
            if not op.get("ok", True):
                ok = False
            elif op["kind"] == "write":
                v = op["version"]
                ok = v < len(manifest["versions"]) and \
                    same_counts(op["counts"], manifest["versions"][v])
                if not ok:
                    op["mismatch"] = {"got": op["counts"]}
            else:
                key = (op["op"], tuple(op["args"]), op["version"])
                if key not in expected:
                    expected[key] = replay.expect(versions[op["version"]],
                                                  op["op"], op["args"])
                ok = expected[key] == op["sig"]
                if not ok:
                    op["mismatch"] = {"got": op["sig"], "want": expected[key]}
            op["correct"] = ok
            failed += not ok
        return failed
    for op in rec["ops"]:
        if not op.get("ok", True):
            ok = False
        elif op["kind"] == "read":
            want = manifest["shards"][op["shard"]]
            ok = same_counts(op["counts"], want)
            if not ok:
                op["mismatch"] = {"got": op["counts"], "want": want}
        else:
            ok = op["output_files"] > 0
        op["correct"] = ok
        failed += not ok
    return failed


def same_counts(got, want):
    return all(got[k] == want[k] for k in ("documents", "nodes", "properties")) \
        and got["edges"] == want["edges"]


def end_to_end(workload, rec, manifest):
    ops = rec["ops"]
    writes = [o for o in ops if o["kind"] == "write"]
    reads = [o["s"] for o in ops if o["kind"] == "read"]
    write_s = sum(o["s"] for o in writes)
    if workload == "graph_queries":
        docs = sum(manifest["versions"][o["version"]]["files"] for o in writes)
        in_bytes = sum(manifest["versions"][o["version"]]["input_bytes"]
                       for o in writes)
        stored = rec["setup_info"]["output_bytes"] / manifest["input_bytes"]
    else:
        shards = manifest["shards"]
        docs = sum(shards[o["shard"]]["files"] for o in writes)
        in_bytes = sum(shards[o["shard"]]["input_bytes"] for o in writes)
        stored = sum(o["output_bytes"] for o in writes) / in_bytes
    tail, pct, beyond = percentile_tail(reads)
    m = {
        "setup_s": (rec["session_build_s"] + rec["setup_s"], "s"),
        "write_mean_s": (write_s / len(writes), "s"),
        "read_mean_s": (statistics.mean(reads), "s"),
        "docs_per_s": (docs / write_s, "docs/s"),
        "mb_per_s": (in_bytes / 1e6 / write_s, "MB/s"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    details = {"read_tail_s": tail, "read_tail_percentile": pct,
               "read_tail_beyond": beyond,
               "reads": len(reads), "writes": len(writes)}
    return m, details


LAYER_SPANS = ["ingest.scan", "ingest.parse", "ingest.tables",
               "engine.write", "queries.read", "engine.upsert"] + \
    [f"relationships.{a}" for a in ("structural", "attribute_reference",
                                    "multi_reference", "same_type",
                                    "semantic_lsh")] + \
    [f"queries.{op}" for op in gen.POINT_OPS + gen.ANALYTIC_OPS]


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(rec):
    spans = rec["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_s(s):
        covered = union_ms([(c["start_ms"], c["end_ms"])
                            for c in kids.get(s["id"], [])])
        return max(0.0, s["s"] - covered / 1e3)

    def med(name, f):
        vals = [f(s) for s in spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def attr(name, key):
        return med(name, lambda s: s["attrs"].get(key, 0))

    m = {"session.build_s": (rec["session_build_s"], "s")}
    for name in LAYER_SPANS:
        m[f"{name}.s"] = (med(name, self_s), "s")
    for name, keys in (("ingest.scan", ("files", "bytes")),
                       ("ingest.parse", ("docs",)),
                       ("engine.write", ("bytes", "files")),
                       ("engine.upsert", ("rows_out",))):
        for k in keys:
            m[f"{name}.{k}"] = (attr(name, k), "bytes" if k == "bytes"
                                else "count")
    m["ingest.parse.skipped"] = (attr("ingest.scan", "files")
                                 - attr("ingest.parse", "docs"), "count")
    m["ingest.parse.salvaged"] = (attr("probe.strict_parse", "strict_failures")
                                  - m["ingest.parse.skipped"][0], "count")
    rows_in = attr("ingest.parse", "rows_in")
    rows_out = attr("ingest.tables", "rows_out")
    m["ingest.tables.rows_in"] = (rows_in, "count")
    m["ingest.tables.rows_out"] = (rows_out, "count")
    m["ingest.tables.keep_ratio"] = (rows_out / rows_in if rows_in else 0.0,
                                     "ratio")
    m["ingest.tables.shuffle_bytes"] = (
        med("ingest.tables", lambda s: s["shuffle_write_bytes"]), "bytes")
    for a in ("structural", "attribute_reference", "multi_reference",
              "same_type", "semantic_lsh"):
        m[f"relationships.{a}.edges"] = (attr(f"relationships.{a}", "edges"),
                                         "count")
    for op in gen.POINT_OPS + gen.ANALYTIC_OPS:
        m[f"queries.{op}.plan_s"] = (attr(f"queries.{op}", "plan_s"), "s")
    # Spark counts per traced op; the driver gap is the part of each
    # top-level span's time during which none of its jobs ran.
    traced = [o for o in rec["ops"] if o["traced"]]
    n = max(1, len(traced))
    for key, unit in (("jobs", "count"), ("tasks", "count"),
                      ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("gc_s", "s")):
        m[f"spark.{key}"] = (sum(s[key] for s in spans) / n, unit)

    def subtree(s):
        out = [s]
        for c in kids.get(s["id"], []):
            out.extend(subtree(c))
        return out
    gap = 0.0
    for s in kids.get(-1, []):
        jobs = [iv for d in subtree(s) for iv in d["job_intervals_ms"]]
        gap += max(0.0, s["s"] - union_ms(jobs) / 1e3)
    m["spark.driver_gap_s"] = (gap / n, "s")
    m["trace.overhead_ratio"] = (overhead(rec["ops"]), "ratio")
    return m


def overhead(ops):
    """Traced over untraced time per op name, geometric mean over the op
    names run in both halves of the traced run."""
    import math
    logs = []
    for name in sorted({o["op"] for o in ops}):
        t = [o["s"] for o in ops if o["op"] == name and o["traced"]]
        u = [o["s"] for o in ops if o["op"] == name and not o["traced"]]
        if t and u:
            logs.append(math.log(statistics.median(t) / statistics.median(u)))
    return math.exp(sum(logs) / len(logs)) if logs else 1.0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    part, manifest = prepare(args.workload, args.seed, work)
    gen_s = time.time() - t0
    cfg = dict(part, workload=args.workload, seconds=args.seconds,
               trace=bool(args.trace),
               work=os.path.join(work, "out"),
               result=os.path.join(work, "result.json"))
    os.makedirs(cfg["work"])
    t1 = time.time()
    rec = run_harness(classes, build_dir, cfg, work)
    t2 = time.time()
    manifest["work"] = cfg["work"]
    manifest["base_out"] = os.path.join(cfg["work"], "v0")
    failed = check_ops(args.workload, rec, manifest)
    check_s = time.time() - t2

    if args.trace:
        metrics = per_layer(rec)
        details = {}
    else:
        metrics, details = end_to_end(args.workload, rec, manifest)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": rec["cores"], "input_generation_s": gen_s,
        "harness_wall_s": t2 - t1, "loop_wall_s": rec["loop_wall_s"],
        "check_s": check_s,
        "canary_start_s": rec["canary_start_s"],
        "canary_end_s": rec["canary_end_s"],
        "session_build_s": rec["session_build_s"],
        "workload_setup_s": rec["setup_s"], **details,
        "ops": [{k: o[k] for k in ("kind", "op", "s", "traced", "correct",
                                   "args", "version", "shard", "mismatch",
                                   "error") if k in o}
                for o in rec["ops"]]}
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    with open(os.path.join(build_dir, "records",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: v for k, v in record.items() if k != "ops"}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(rec["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
