#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop workload per run, in its own JVM.

    python3 perfbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run of a source state builds:
sbt (offline) compiles the engine and the harness to jars and reports the
engine's JVM options, and one training run of the harness records a
class-data-sharing archive for the JVM; all are cached under
`.bench_build/`. The archive cuts a run's set-up by about 10 s of class
loading. Each run then

  1. writes the seeded corpus (corpus.py) at the workload's scale factor,
     reused per seed;
  2. starts `luxbench.Harness` (src/main/scala/luxbench) with one client
     thread on a `Sessions.create(..., nproc)` session: set-up writes each
     query's output once and runs warm passes, then ops run for
     `--seconds`, every output column materialized through the `noop`
     sink and its digest checked against the set-up output;
  3. checks the set-up outputs against the queries' registered DuckDB
     oracle SQL on the same corpus (oracle.py).

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` - the `end_to_end` metrics of BENCHMARK.json with
`--trace 0`, its `per_layer` metrics with `--trace 1`. The line before it
records the run's inputs: corpus id, seed, warm-up times, digests and
oracle verdicts.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import corpus as gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")

RUN_LIMIT_S = 170          # a run must end within 180 s
HEAP = "3g"                # the harness JVM's heap, via the engine build
BUILD_LIMIT_S = 700        # the first run of a source state also builds
KEEP_CORPORA = 4
TRAIN_SEED = 0
# corpus scale factor per workload; `train` records the class-data archive
SCALE = {"build": 0.01, "daily": 0.1, "train": 0.01}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/main/**/*"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def corpus(seed, sf):
    """The seeded corpus dir and its id, generated once per seed and scale."""
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:8]
    base = os.path.join(WORK, "corpus")
    d = os.path.join(base, f"sf{sf}-seed{seed}-{gen_id}")
    marker = os.path.join(d, "ID")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        cid = gen.write(d, seed, sf)
        with open(marker, "w") as f:
            f.write(cid)
        olds = sorted(glob.glob(os.path.join(base, "sf*")), key=os.path.getmtime)
        for old in olds[:-KEEP_CORPORA]:
            shutil.rmtree(old, ignore_errors=True)
    with open(marker) as f:
        return d, f.read().strip()


def run_proc(cmd, cwd, log, deadline, env=None):
    """Run cmd in its own process group with stderr to log; kill the group
    and fail at the deadline. Returns (exit code, stdout)."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{os.path.basename(cmd[0])} timed out (see {log})")
    return p.returncode, out


def harness(jvm_flags, cp, workload, corpus_dir, seconds, trace, deadline):
    """Run one workload in its own JVM; return its JSON record. jvm_flags
    holds the engine's JVM options and any class-data-sharing flags."""
    import oracle  # reads tools/check.py, so only once the checkout is known
    run_dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + jvm_flags +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", cp, "luxbench.Harness",
            workload, corpus_dir, os.path.join(run_dir, "out"),
            str(seconds), str(trace), str(cpus)])
    log = os.path.join(WORK, f"{workload}.log")
    try:
        rc, out = run_proc(cmd, run_dir, log, deadline)
        recs = [l for l in out.splitlines() if l.startswith("{")]
        if rc != 0 or not recs:
            fail(f"{workload} harness failed with code {rc} (see {log})")
        rec = json.loads(recs[-1])
        rec["verdict"] = oracle.check(corpus_dir, os.path.join(run_dir, "out"),
                                      rec["oracle"])
        return rec
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def build(deadline):
    """Compile engine + harness and record the JVM's class-data-sharing
    archive, once per source state; return the JVM flags, the classpath
    and whether this run built."""
    stamp = source_stamp()
    launch_file = os.path.join(WORK, f"launch-{stamp}.json")
    jsa = os.path.join(WORK, f"classes-{stamp}.jsa")
    cds = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if os.path.exists(launch_file) and os.path.exists(jsa):
        with open(launch_file) as f:
            launch = json.load(f)
        return (launch["java_options"] + [f"-XX:SharedArchiveFile={jsa}"] + cds,
                launch["classpath"], False)
    for old in glob.glob(os.path.join(WORK, "launch-*")) + \
            glob.glob(os.path.join(WORK, "classes-*.jsa")):
        os.remove(old)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    log = os.path.join(WORK, "build.log")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                       HERE, log, deadline, env)
    fields = {l.split("\t")[0]: l.rstrip("\n").split("\t")[1:]
              for l in out.splitlines() if "\t" in l}
    opts, jars = fields.get("JAVA_OPTIONS"), fields.get("CLASSPATH", [])
    if rc != 0 or not opts or not any("luxbench" in j for j in jars):
        fail(f"build failed (see {log})")
    cp = os.pathsep.join(jars)
    train_dir, _ = corpus(TRAIN_SEED, SCALE["train"])
    harness(opts + [f"-XX:ArchiveClassesAtExit={jsa}"] + cds, cp, "train",
            train_dir, 0, 0, deadline)
    if not os.path.exists(jsa):
        fail("the class-data-sharing archive was not written")
    with open(launch_file, "w") as f:
        json.dump({"java_options": opts, "classpath": cp}, f)
    return opts + [f"-XX:SharedArchiveFile={jsa}"] + cds, cp, True


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def metrics(rec, trace):
    """Every metric the run can report, by name, over the ops that
    succeeded (failed ops are counted in `failed`)."""
    ops = [o for o in rec["ops"] if o["ok"]]
    untraced = [o["s"] for o in ops if not o["traced"]]
    if not trace:
        return {"op_p50_s": med(untraced), "setup_s": rec["setup_s"],
                "cached_mb": med([o["cached_mb"] for o in ops])}
    traced = [o for o in ops if o["traced"]]
    if not traced or not untraced:
        return {}
    out = {n: med([o["layers"][n] for o in traced]) for n in traced[0]["layers"]}
    out["trace.traced_op_p50_s"] = med([o["s"] for o in traced])
    out["trace.untraced_op_p50_s"] = med(untraced)
    out["trace.overhead_s"] = out["trace.traced_op_p50_s"] - med(untraced)
    out["luxql.parse_us"] = rec["parse_us"]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    start = time.time()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) and
            os.path.isfile(spec_file)):
        fail("run from the root of a checkout of the engine")
    with open(spec_file) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    os.makedirs(WORK, exist_ok=True)

    jvm_flags, cp, built = build(start + BUILD_LIMIT_S)
    corpus_dir, corpus_id = corpus(args.seed, SCALE[args.workload])
    deadline = (time.time() if built else start) + RUN_LIMIT_S
    rec = harness(jvm_flags, cp, args.workload, corpus_dir, args.seconds,
                  args.trace, deadline)

    verdict = rec["verdict"]
    wrong = {q for q, why in verdict.items() if why is not None}
    for q in sorted(wrong):
        print(f"perfbench: {q} differs from its oracle: {verdict[q]}", file=sys.stderr)
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["query"] in wrong)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "sf": SCALE[args.workload], "corpus_id": corpus_id,
                      "setup_s": rec["setup_s"], "warm_s": rec["warm_s"],
                      "op_s": [o["s"] for o in ops],
                      "digests": rec["digests"],
                      "oracle": {q: v or "ok" for q, v in verdict.items()}}))

    values = metrics(rec, args.trace)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted
               if m["name"] not in values or values[m["name"]] != values[m["name"]]]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": not wrong and failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
