#!/usr/bin/env python3
"""Isolated-JVM profiler for flagged bench queries (VERDICT r16 #3,
closing What's-missing #2): a PROFILE verdict from bench_adjudicate.py
must produce a RECORDED artifact, not prose.

Feeds query names from bench/reference.json's flag table into
graft.Profile — one fresh forked JVM, N reps per query, loadavg
stamped before and after — and writes bench/profiles/r{N}_flags.json
with a per-query verdict:

  * REGRESSED  — the isolated steady state (min of reps 2..N; rep 1
                 pays cold codegen) is still past the drift band vs
                 the all-time floor: a real plan/code regression, fix
                 it.
  * EXONERATED — the isolated steady state is back inside the band:
                 the suite-window number was host contention, not
                 this query's plan. The artifact IS the exoneration
                 record.

Usage:
  profile_flags.py --round 17 [--sf /root/testdata/sf0.1] [--reps 5]
      [--status PROFILE|all] [names...]

With no names, profiles the queries whose flag history matches
--status: PROFILE (default) = flagged this round AND the previous one
(the adjudicator's escalation), all = every active flag.
"""
import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = os.path.join(REPO, "bench", "reference.json")
PROFILES = os.path.join(REPO, "bench", "profiles")


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def moved(best, ref):
    return best > max(ref * 1.25, ref + 0.1)


def run_profile(names, sf, reps, cpus):
    cmd = ["sbt", "-batch",
           f"runMain graft.Profile {sf} {','.join(names)} {reps}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True,
                         text=True, check=False)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit(f"graft.Profile failed rc={out.returncode}")
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"metric":"profile"' in line:
            return json.loads(line)
    raise SystemExit("no profile JSON line in Profile output")


def main():
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--round", type=int, required=True)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--status", default="PROFILE",
                   choices=["PROFILE", "all"])
    p.add_argument("names", nargs="*")
    args = p.parse_args()

    with open(REF) as f:
        ref = json.load(f)
    flags = ref.get("flags", {})
    if args.names:
        names = args.names
    elif args.status == "all":
        names = sorted(flags)
    else:
        names = sorted(n for n, hist in flags.items()
                       if args.round in hist and args.round - 1 in hist)
    if not names:
        print(f"no {args.status} queries for round {args.round} — "
              "nothing to profile")
        return

    load_before = loadavg()
    probe = run_profile(names, args.sf, args.reps, args.cpus)
    load_after = loadavg()

    queries = {}
    for n in names:
        reps = probe["queries"].get(n)
        if not reps:
            queries[n] = {"error": "no timings"}
            continue
        steady = min(reps[1:]) if len(reps) > 1 else reps[0]
        floor = ref["queries"].get(n)
        verdict = ("NO_REFERENCE" if floor is None else
                   "REGRESSED" if moved(steady, floor) else "EXONERATED")
        queries[n] = {"reps": reps, "steady": round(steady, 3),
                      "ref": floor, "verdict": verdict}

    artifact = {
        "round": args.round,
        "sf": args.sf,
        "reps": args.reps,
        "isolated_jvm": True,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "queries": queries,
    }
    os.makedirs(PROFILES, exist_ok=True)
    # never overwrite an earlier run's artifact — each profiling pass
    # is its own record
    path = os.path.join(PROFILES, f"r{args.round}_flags.json")
    k = 2
    while os.path.exists(path):
        path = os.path.join(PROFILES, f"r{args.round}_flags_{k}.json")
        k += 1
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    print(f"## Flag profiling — round {args.round} "
          f"(isolated JVM, {args.reps} reps, load "
          f"{load_before[0]:.2f}→{load_after[0]:.2f})")
    print()
    print("| query | ref s | steady s | reps | verdict |")
    print("|---|---|---|---|---|")
    for n in sorted(queries):
        q = queries[n]
        if "error" in q:
            print(f"| {n} | — | — | — | {q['error']} |")
            continue
        reps_s = "/".join(f"{t:.2f}" for t in q["reps"])
        print(f"| {n} | {q['ref']:.3f} | {q['steady']:.3f} "
              f"| {reps_s} | {q['verdict']} |")
    print()
    print(f"artifact: {os.path.relpath(path, REPO)}")


if __name__ == "__main__":
    main()
