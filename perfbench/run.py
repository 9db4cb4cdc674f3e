#!/usr/bin/env python3
"""Engine benchmark: query faces and the ingest path, timed from outside.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Workloads are defined in workloads.json: `queries` (query faces) and
`ingest` (the metadata-store stream).

Builds the engine (src/main/scala) and the harness (perfbench/scala) with
the Scala compiler that ships in Spark's jars, into .bench_build/, then runs
one workload in a fresh JVM and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it records the run's settings (see README.md).
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """SPARK_HOME, else the installation whose `spark-submit` is on PATH."""
    exe = shutil.which("spark-submit")
    return os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(exe))) if exe else "")


JARS = os.path.join(spark_home(), "jars", "*")
DATA = os.path.join(HERE, "data", "sf0.01")
DEADLINE_S = 170  # whole run, build excluded
ARCHIVE = "classes.jsa"
LAYERS = ("construct", "plan", "exec")  # the children of a face span

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def scala_sources():
    out = []
    for base in (SRC, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness into one jar per source digest, then record
    the classes a short run loads into a JVM class-data archive (AppCDS),
    which every run maps: it halves JVM and Spark start-up time, which
    would otherwise be most of a run. Returns (jar, digest)."""
    if not os.path.isdir(SRC):
        fail(f"engine sources not found under {os.path.relpath(SRC, ROOT)}")
    if not os.path.isdir(os.path.dirname(JARS)):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    files = scala_sources()
    digest = source_digest(files)
    out = os.path.join(BUILD, "engine-" + digest[:16])
    jar = os.path.join(out, "engine.jar")
    if os.path.exists(os.path.join(out, ".ok")):
        return jar, digest
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("engine-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", JARS,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", JARS,
         "@" + argfile],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f}s; recording the class-data archive")
    spec = load_json("workloads.json")["queries"]
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    run_jvm(jar, train, {"workload": "queries", "seed": 0, "seconds": 0,
                         "trace": 0, "data": DATA, "setups": 1,
                         "faces": ",".join(workload_faces(spec, [], False))},
            800, archive=os.path.join(out, ARCHIVE))
    shutil.rmtree(train)
    open(os.path.join(out, ".ok"), "w").close()
    log(f"built in {time.time() - t0:.1f}s")
    return jar, digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or None
    except OSError:
        return None


def load_json(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def workload_faces(spec, all_faces, full):
    """Face -> part for a query workload: each part's core faces, or with
    `full` every face, each in the part whose prefixes it matches (reports
    also takes any face no prefix matches)."""
    parts = spec["parts"]
    if not full:
        return {f: name for name, part in parts.items() for f in part["core"]}
    out = {}
    for f in all_faces:
        owner = [n for n, p in parts.items() if f.startswith(tuple(p["prefixes"]))]
        out[f] = owner[0] if owner else "reports"
    return out


def run_jvm(jar, work, args, budget, archive=None):
    """Run the harness in its own JVM; with `archive`, write the class-data
    archive at exit instead of mapping the build's one."""
    out = os.path.join(work, "result.json")
    logf = os.path.join(work, "jvm.log")
    cds = ("-XX:ArchiveClassesAtExit=" + archive if archive else
           "-XX:SharedArchiveFile=" + os.path.join(os.path.dirname(jar), ARCHIVE))
    cmd = (["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", cds,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", jar + os.pathsep + JARS, "perfbench.PerfBench"] +
           [f"{k}={v}" for k, v in args.items()] +
           ["out=" + out, "work=" + work, f"t0ms={int(time.time() * 1000)}"])
    with open(logf, "w") as lf:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep it in `work`
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {budget:.0f}s")
    if rc != 0 or not os.path.exists(out):
        with open(logf) as lf:
            tail = lf.read()[-4000:]
        fail(f"harness exited {rc}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def med(values):
    return statistics.median(values) if values else float("nan")


def query_metrics(res, expected, parts, trace, build_dir):
    """End-to-end or per-layer metrics of a query workload, plus checks.
    A face that throws or returns another row count than the oracle fails
    and is left out of the timings."""
    def ok(r):
        return "err" not in r and r["rows"] == expected.get(r["face"])

    timed = [r for r in res["records"] if r["phase"] == "timed"]
    wrong = sorted({(r["face"], r.get("err") or f"rows {r['rows']} != {expected.get(r['face'])}")
                    for r in res["records"] if not ok(r)})
    failed = sum(1 for r in timed if not ok(r))
    per_face = {}
    for r in timed:
        if ok(r) and not r["traced"]:
            per_face.setdefault(r["face"], []).append(r["s"])
    face_s = {f: med(v) for f, v in per_face.items()}
    setup = res["session_s"] + med(res["setup_s"])
    report = {
        "setup_s": setup,
        "pass_s": med([p["s"] for p in res["passes"] if not p["traced"]]),
        "query_p50_s": pct(face_s.values(), 50),
        "query_p90_s": pct(face_s.values(), 90),
        "fail_frac": failed / max(1, len(timed)), "cached_mb": res["cached_mb"],
        "part_s": {p: sum(s for f, s in face_s.items() if parts[f] == p)
                   for p in sorted(set(parts.values()))},
        "passes_s": [p["s"] for p in res["passes"]], "face_s": face_s,
        "session_s": res["session_s"], "setups_s": res["setup_s"],
    }
    checks = {"wrong_faces": wrong[:20]}
    if not trace:
        metrics = {
            "setup_s": (setup, "s"),
            "cycle_s": (report["pass_s"], "s"),
            "op_p50_s": (report["query_p50_s"], "s"),
            "op_p90_s": (report["query_p90_s"], "s"),
        }
    else:
        metrics, self_check, counts = traced_query_metrics(res, timed)
        # the same counts from an earlier traced run of this seed and build
        prev = os.path.join(build_dir, f"counts-seed{res['env']['seed']}.json")
        if os.path.exists(prev):
            with open(prev) as fh:
                self_check["repeat_run_diff"] = diff_counts(json.load(fh), counts)
        else:
            with open(prev, "w") as fh:
                json.dump(counts, fh)
            self_check["repeat_run_diff"] = []
        checks.update(self_check)
        failed += (len(self_check["repeat_diff"]) + len(self_check["repeat_run_diff"]) +
                   sum(self_check["steady_memo_new"]) + (self_check["span_cover_min"] < 0.98))
    return metrics, report, checks, len(timed), failed


def layer_sum(recs, child, key):
    return sum(r[child][key] for r in recs)


def traced_query_metrics(res, timed):
    tr = [r for r in timed if r["traced"] and "err" not in r]
    by_pass = {}
    for r in tr:
        by_pass.setdefault(r["pass"], []).append(r)
    passes = sorted(by_pass)

    def per_pass(fn):
        return med([fn(by_pass[p]) for p in passes])

    def all3(key):
        return lambda rs: sum(layer_sum(rs, c, key) for c in LAYERS)

    exec_s = per_pass(lambda rs: layer_sum(rs, "exec", "s"))
    exec_task_s = per_pass(lambda rs: layer_sum(rs, "exec", "task_ms")) / 1e3
    cores = res["env"]["nproc"]
    traced_pass = med([p["s"] for p in res["passes"] if p["traced"]])
    untraced_pass = med([p["s"] for p in res["passes"] if not p["traced"]])
    memo_new = [p["memo_new"] for p in res["passes"]]
    m = {
        "construct.s": (per_pass(lambda rs: layer_sum(rs, "construct", "s")), "s"),
        "construct.jobs": (per_pass(lambda rs: layer_sum(rs, "construct", "jobs")), "count"),
        "plan.s": (per_pass(lambda rs: layer_sum(rs, "plan", "s")), "s"),
        "sched.jobs": (per_pass(all3("jobs")), "count"),
        "sched.stages": (per_pass(all3("stages")), "count"),
        "sched.tasks": (per_pass(all3("tasks")), "count"),
        "sched.delay_s": (per_pass(all3("delay_ms")) / 1e3, "s"),
        "sched.core_util": (exec_task_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.s": (exec_s, "s"),
        "exec.task_cpu_s": (per_pass(all3("cpu_ns")) / 1e9, "s"),
        "exec.gc_s": (per_pass(all3("gc_ms")) / 1e3, "s"),
        "exec.shuffle_write_mb": (per_pass(all3("shuffle_write_b")) / 1048576, "MB"),
        "exec.spill_mb": (per_pass(all3("spill_b")) / 1048576, "MB"),
        "cache.pool_new": (med([p["pool_new"] for p in res["passes"]]), "count"),
        "cache.memo_new": (max(memo_new), "count"),
        "cache.mb": (res["cached_mb"], "MB"),
        "trace.overhead_pct": (100.0 * (traced_pass / untraced_pass - 1), "%"),
    }
    m.update(tables_metrics(res))
    m.update(sink_metrics(res["sink_probe"]))
    # self-check: the children cover each span, and two traced passes agree
    cover = [(r["construct"]["s"] + r["plan"]["s"] + r["exec"]["s"] + r["drain_s"])
             / r["span_s"] for r in tr]
    counts = [face_counts(by_pass[p]) for p in passes]
    checks = {"span_cover_min": min(cover, default=0.0),
              "repeat_diff": diff_counts(counts[0], counts[1]) if len(counts) > 1 else ["?"],
              "steady_memo_new": memo_new}
    return m, checks, counts[0] if counts else {}


def face_counts(recs):
    """Per-face counts that must repeat exactly: rows, construction jobs,
    new memo entries, and the span's jobs and tasks."""
    return {r["face"]: [r["rows"], r["construct"]["jobs"], r["construct"]["memo_new"],
                        sum(r[c]["jobs"] for c in LAYERS),
                        sum(r[c]["tasks"] for c in LAYERS)] for r in recs}


def diff_counts(a, b):
    """Faces whose counts differ between two passes or runs."""
    return sorted(f for f in set(a) & set(b) if a[f] != b[f])


def tables_metrics(res):
    t = res["trace"]["tables"]
    return {"tables.apply_ms": (med(t["apply_ms"]), "ms"),
            "tables.raw_ms": (med(t["raw_ms"]), "ms")}


def sink_metrics(s):
    b = s["batches"]
    reads = [x["read"]["s"] for x in b if x["read"]]
    return {
        "sink.merge_s": (med([x["merge"]["s"] for x in b]), "s"),
        "sink.compact_s": (med([x["compact"]["s"] for x in b]), "s"),
        "sink.read_s": (med(reads), "s"),
        "sink.batch_rows": (med([3 * x["valid"] for x in b]), "count"),
        "sink.jobs_per_batch": (med([x["merge"]["jobs"] + x["compact"]["jobs"]
                                     for x in b]), "count"),
        "sink.folds": (s["folds"], "count"),
        "sink.files_per_pid_max": (s["files_per_pid_max"], "count"),
        "sink.bytes_per_row": (s["store_bytes"] / max(1, s["rows"]), "B"),
    }


def ingest_checks(res):
    return (res["wrong_ids"] + res["bad_ids"] + res["read_fails"] +
            (res["rows"] != res["expected_rows"]))


def ingest_metrics(res, trace):
    b = res["batches"]
    lat = res["latencies"]
    setup = res["session_s"] + med(res["setup_s"])
    report = {
        "setup_s": setup, "batch_s": med([x["s"] for x in b]),
        "ingest_lat_p50_s": pct(lat, 50), "ingest_lat_p90_s": pct(lat, 90),
        "readback_p50_s": med(res["reads"]),
        "store_bytes_per_row": res["store_bytes"] / max(1, res["rows"]),
        "requests": res["requests"], "malformed": res["malformed"],
        "batches": len(b), "touched": res["touched"],
        "session_s": res["session_s"], "setups_s": res["setup_s"],
    }
    failed = ingest_checks(res)
    checks = {"wrong_ids": res["wrong_ids"], "bad_ids": res["bad_ids"],
              "read_fails": res["read_fails"], "rows": res["rows"],
              "expected_rows": res["expected_rows"]}
    attempted = res["requests"] + len(res["reads"])
    if not trace:
        metrics = {
            "setup_s": (setup, "s"),
            "cycle_s": (report["batch_s"], "s"),
            "op_p50_s": (report["ingest_lat_p50_s"], "s"),
            "op_p90_s": (report["ingest_lat_p90_s"], "s"),
        }
    else:
        metrics = ingest_layers(res)
    return metrics, report, checks, attempted, failed


def ingest_layers(res):
    """Per-layer metrics of the ingest workload, per batch. The read-back
    is the one query here, so plan.s is its planning time."""
    b = res["batches"]
    n = len(b)
    rd = [x["read"] for x in b if x["read"]]
    spans = ([c for x in b for c in (x["build"], x["merge"], x["compact"])] +
             [r[c] for r in rd for c in LAYERS])

    def tot(key):
        return sum(c[key] for c in spans)

    exec_s = (sum(x["merge"]["s"] + x["compact"]["s"] for x in b) +
              sum(r["exec"]["s"] for r in rd))
    cores = res["env"]["nproc"]
    m = {
        "construct.s": ((sum(x["build"]["s"] for x in b) +
                         sum(r["construct"]["s"] for r in rd)) / n, "s"),
        "construct.jobs": (sum(x["build"]["jobs"] for x in b) / n, "count"),
        "plan.s": (med([r["plan"]["s"] for r in rd]), "s"),
        "sched.jobs": (tot("jobs") / n, "count"),
        "sched.stages": (tot("stages") / n, "count"),
        "sched.tasks": (tot("tasks") / n, "count"),
        "sched.delay_s": (tot("delay_ms") / 1e3 / n, "s"),
        "sched.core_util": (tot("task_ms") / 1e3 / (exec_s * cores), "ratio"),
        "exec.s": (exec_s / n, "s"),
        "exec.task_cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (tot("gc_ms") / 1e3 / n, "s"),
        "exec.shuffle_write_mb": (tot("shuffle_write_b") / 1048576 / n, "MB"),
        "exec.spill_mb": (tot("spill_b") / 1048576 / n, "MB"),
        "cache.pool_new": (tot("pool_new"), "count"),
        "cache.memo_new": (tot("memo_new"), "count"),
        "cache.mb": (res["cached_mb"], "MB"),
        "trace.overhead_pct": (100.0 * res["trace"]["drain_s"] /
                               sum(x["s"] for x in b), "%"),
    }
    m.update(tables_metrics(res))
    m.update(sink_metrics(res))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="time every face of each part, not the core faces "
                         "(takes minutes; no time limit)")
    a = ap.parse_args()
    jar, digest = build()
    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    spec = workloads[a.workload]
    expected = load_json("expected_rows.json")["rows"]
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "data": DATA, "setups": spec["setups"]}
    parts = {}
    if "parts" in spec:
        parts = workload_faces(spec, sorted(expected), a.full)
        args["faces"] = ",".join(parts)
    try:
        res = run_jvm(jar, work, args, None if a.full else DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if parts:
        metrics, report, checks, attempted, failed = query_metrics(
            res, expected, parts, a.trace, os.path.dirname(jar))
    else:
        metrics, report, checks, attempted, failed = ingest_metrics(res, a.trace)
    env = dict(res["env"], source_digest=digest, git_commit=git_commit(),
               data=os.path.relpath(DATA, ROOT), faces=len(parts),
               wall_s=round(time.time() - t0, 3))
    print(json.dumps({"env": env, "report": report, "checks": checks}), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
