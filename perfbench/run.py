#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the Scala harness
from source (sbt, offline; skipped when the sources are unchanged),
generates the seeded inputs, runs the harness JVM, checks the outputs, and
prints one JSON object as its last line: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones. Exit status
is 0 only if every operation succeeded and every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen    # noqa: E402
import stats  # noqa: E402

# Chosen from the probe lists so that one pass takes about run_seconds on a
# 4-core box at this data size (see README.md).
QUERIES = {
    "batch_iterative": ["q142_hits"],
    "batch_scan": ["q146_copurchase", "q154_copurchase_recs", "q182_association_rules",
                   "q101_cross_doc_spans", "q157_containment", "q271_edit_blocked_pairs"],
}
WORKLOADS = ["tweet_stream", "batch_iterative", "batch_scan", "ingest_drain"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_killable(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group; kills the whole group on timeout
    and always waits for it to end."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp(root):
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compiles the engine sources and the harness; returns the classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    code = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BENCH, env, os.path.join(work, "build.log"), 850)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.join(work, 'build.log')})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def canonical_digest(con, files):
    """Row count and sha256 of a result, canonicalized as scripts/check.py
    does: columns sorted by name, rows sorted by their string form, every
    value compared as its string form."""
    df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    return digest_frame(df)


def digest_frame(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True, key=lambda s: s.astype(str))
    text = df.astype(str)
    h = hashlib.sha256("\x1f".join(text.columns).encode())
    for row in text.itertuples(index=False):
        h.update(("\n" + "\x1f".join(row)).encode())
    return len(df), h.hexdigest()


def check_batch(workload, work):
    """Compares each query's warm-up result with the stored oracle digest."""
    import duckdb
    with open(os.path.join(BENCH, "oracle", "digests.json")) as f:
        expected = json.load(f)
    con = duckdb.connect()
    errors = []
    for q in QUERIES[workload]:
        files = glob.glob(os.path.join(work, "out", q, "*.parquet"))
        if not files:
            errors.append(f"{q}: no result written")
            continue
        rows, digest = canonical_digest(con, files)
        want = expected[q]
        if [rows, digest] != [want["rows"], want["sha256"]]:
            errors.append(f"{q}: {rows} rows, digest {digest[:12]} vs oracle "
                          f"{want['rows']} rows, {want['sha256'][:12]}")
    return errors


def end_to_end(res):
    samples = res["samples"]
    return {
        "setup_s": res["setup_s"],
        "throughput_per_s": stats.median(samples.get("throughput_per_s") or [0.0]),
        "latency_p50_ms": stats.median(samples.get("latency_ms") or [0.0]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def span_figures(spans, task_s, cpus):
    """Layer figures derived from the traced run's spans. Measured windows
    are the top-level spans the harness records (operations, absorbs,
    stream phases); stage spans are named `spark.stage`, or
    `spark.stage:<step>` when the workload tags them by call site."""
    windows = [(s["start"], s["end"]) for s in spans
               if s["parent"] == "" and not s["name"].startswith("spark.")]
    stages = [(s["start"], s["end"]) for s in spans if s["name"].startswith("spark.stage")]
    wall_s = sum(b - a for a, b in windows) / 1e3
    idle_ms = sum((b - a) - stats.covered(stages, a, b) for a, b in windows)

    def step_s(step):
        return stats.covered([(s["start"], s["end"]) for s in spans
                              if s["name"] == "spark.stage:" + step]) / 1e3
    return {
        "scheduler.idle_gap_s": idle_ms / 1e3,
        "scheduler.core_util": task_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "ingest.maintain_s": step_s("maintain"),
        "ingest.commit_s": step_s("commit"),
    }


def per_layer(res, names, derived):
    layers, samples = res["layers"], res["samples"]
    out = {}
    for n in names:
        if n in layers:
            out[n] = layers[n]
        elif n in samples:
            out[n] = stats.median(samples[n])
        elif n in derived:
            out[n] = derived[n]
        elif n == "streaming.latency_p90_ms" and res["workload"] == "tweet_stream":
            out[n] = stats.tail_quantile(samples["latency_ms"], 0.9) or 0.0
        else:
            out[n] = 0.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources are missing")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)

    work_root = os.path.join(BENCH, ".work")
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    inp = os.path.join(work, "in")

    classpath = build(root, work)
    t_built = time.time()

    data = os.path.join(BENCH, "data")
    if a.workload == "tweet_stream":
        gen.write_tweets(a.seed, a.seconds, inp)
    elif a.workload == "ingest_drain":
        gen.write_ingest(a.seed, os.path.join(data, "documents.parquet"), inp)
    else:
        with open(os.path.join(inp, "queries.txt"), "w") as f:
            f.write("\n".join(gen.query_order(a.seed, QUERIES[a.workload])) + "\n")

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--input", inp, "--work", work])
    left = RUN_LIMIT_S - (time.time() - t_built)
    code = run_killable(cmd, work, env, os.path.join(work, "jvm.log"), left)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"harness exited with {code} (see {os.path.join(work, 'jvm.log')})")
    with open(result_path) as f:
        res = json.load(f)
    res["workload"] = a.workload

    errors = list(res["errors"])
    attempted, failed = res["attempted"], res["failed"]
    if a.workload in QUERIES:
        bad = check_batch(a.workload, work)
        errors += bad
        attempted += len(QUERIES[a.workload])
        failed += len(bad)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    e2e = end_to_end(res)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = e2e
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        derived = span_figures(spans, res["layers"].get("compute.task_s", 0.0), cpus)
        values = per_layer(res, names, derived)

    summary = dict(e2e, failed_frac=stats.failed_frac(attempted, failed))
    lat = res["samples"].get("latency_ms", [])
    tail = stats.tail_quantile(lat, 0.9)
    if tail is not None:
        summary["latency_p90_ms"] = tail
    summary["latency_samples"] = len(lat)
    print("perfbench: " + json.dumps({k: round(v, 4) for k, v in summary.items()}))

    trace_dir = os.path.join(work_root, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    last = os.path.join(trace_dir, f"{a.workload}-{a.seed}-untraced.json")
    if a.trace:
        kept = os.path.join(trace_dir, f"{a.workload}-{a.seed}-spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), kept)
        print("perfbench: layers " + json.dumps(
            {k: round(v, 4) for k, v in sorted(dict(res["layers"], **derived).items())}))
        self_by_name = stats.self_time_by_name(spans)
        print("perfbench: span self-time ms " +
              json.dumps({k: round(v, 1) for k, v in sorted(self_by_name.items())}))
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            print("perfbench: tracing overhead (traced - untraced) " +
                  json.dumps({k: round(e2e[k] - base[k], 4) for k in e2e}))
    else:
        with open(last, "w") as f:
            json.dump(e2e, f)

    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
