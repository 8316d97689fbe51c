#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.sbt) when the
sources changed, generates the workload's tables once, draws its ops from
the seed, runs them in one pinned JVM (perfbench.Main), checks every
output against DuckDB or an exact twin, and prints a record line and
then, as the last line, {"correct", "attempted", "failed", "metrics"}. Untraced runs
report the end-to-end metrics, traced runs the per-layer ones. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "perfbench.jar")
CDS = os.path.join(TARGET, "perfbench.jsa")
DATA_VERSION = "1"
DATA_SEED = 42
RUN_TIMEOUT_S = 175
WORKLOADS = ["tpch_dialect", "join_order", "pipeline_10x", "dialect_dml"]

# Pinned JVM per workload: heap (MB) and the input size it runs at.
# pipeline_10x also caps Spark's execution + storage memory at a tenth of
# the heap, so that its working set exceeds it and shuffles spill.
HEAP_MB = {"tpch_dialect": 2048, "join_order": 2048,
           "pipeline_10x": 1024, "dialect_dml": 2048}
EXTRA_FLAGS = {"pipeline_10x": ["-Dspark.memory.fraction=0.1"]}
SF = {"tpch_dialect": 0.1, "join_order": 0.01, "pipeline_10x": 0.001,
      "dialect_dml": 0.001}
CORPUS = {"pipeline_10x": (3_000, 1_200, 60_000)}
SMALL_CORPUS = (200, 200, 2_000)
SETUPS = 3
# Nominal length of one pass on a 4-core host; a run makes
# round(seconds / nominal) passes, so every run of a workload does the
# same amount of work. A traced run makes at least three: untraced,
# traced, untraced.
NOMINAL_PASS_S = {"tpch_dialect": 5, "join_order": 7.5, "pipeline_10x": 13,
                  "dialect_dml": 11}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".properties"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness into one jar when any source changed, then
    record a class-data-sharing archive of a short run of every op kind,
    which cuts JVM start-up of every later run."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(JAR) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=840)
    if r.returncode != 0 or not os.path.exists(JAR):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed")
    if os.path.exists(CDS):
        os.remove(CDS)
    rng = np.random.default_rng(0)
    data = make_data("tpch_dialect", smoke=True)
    run_dir = os.path.join(WORK, "runs", "cds")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    ops = (workloads.tpch_dialect(rng)["passes"][0][:3]
           + workloads.join_order(rng)["passes"][0][:1]
           + workloads.pipeline(rng, data)["passes"][0][:2]
           + workloads.dialect_dml(rng, lambda p: "")[0]["passes"][0][:4])
    spec = {"workload": "tpch_dialect", "dir": data, "run_passes": 2, "setups": 1,
            "trace": True, "warmup": [], "passes": [ops], "oracle_names": []}
    try:
        run_jvm("tpch_dialect", spec, run_dir, time.time() + 300, dump_cds=True)
    except SystemExit:
        # the archive only speeds up start-up; runs work without it
        print("perfbench: no class-data-sharing archive", file=sys.stderr)
        if os.path.exists(CDS):
            os.remove(CDS)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def make_data(workload, smoke=False):
    """The workload's tables: generated once from a fixed seed, like the
    project's test data; the run seed draws the ops over them."""
    d = os.path.join(WORK, "data", f"{workload}{'-smoke' if smoke else ''}"
                                   f"-v{DATA_VERSION}")
    if os.path.exists(os.path.join(d, "done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    rng = np.random.default_rng(DATA_SEED)
    gen.tpch(d, 0.001 if smoke else SF[workload], rng)
    gen.corpus(d, *(SMALL_CORPUS if smoke else CORPUS.get(workload, SMALL_CORPUS)),
               rng)
    open(os.path.join(d, "done"), "w").close()
    return d


def make_ops(workload, seed, run_dir):
    rng = np.random.default_rng([seed, 11])
    if workload == "tpch_dialect":
        return workloads.tpch_dialect(rng)
    if workload == "join_order":
        return workloads.join_order(rng)
    if workload == "pipeline_10x":
        return workloads.pipeline(rng, make_data(workload, smoke=True))
    path = lambda p: os.path.join(run_dir, f"import-{p}.csv")  # noqa: E731
    spec, imports = workloads.dialect_dml(rng, path)
    for p, rows in enumerate(imports):
        with open(path(p), "w") as fh:
            fh.writelines(f"{k},{g},{v}\n" for k, g, v in rows)
    return spec


def run_jvm(workload, spec, run_dir, deadline, dump_cds=False):
    cpus = len(os.sched_getaffinity(0))
    heap = HEAP_MB[workload]
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME must name the Spark installation")
    spec.setdefault("setups", SETUPS)
    spec.update(cpus=cpus, out=os.path.join(run_dir, "out.json"))
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
             "-XX:-UsePerfData",
             f"-XX:ActiveProcessorCount={cpus}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             *EXTRA_FLAGS.get(workload, [])]
    flags += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if dump_cds:
        flags.append(f"-XX:ArchiveClassesAtExit={CDS}")
    elif os.path.exists(CDS):
        flags.append(f"-XX:SharedArchiveFile={CDS}")
    cp = JAR + os.pathsep + os.path.join(spark_home, "jars", "*")
    # nothing inherited: no JVM option variables, no graft tuning overrides
    env = {k: v for k, v in os.environ.items()
           if k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
           and not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(["java", *flags, "-cp", cp, "perfbench.Main",
                                 spec_path], cwd=run_dir, env=env,
                                stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("the measured JVM did not finish in time", 3)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"the measured JVM failed with code {rc}", 3)
    with open(spec["out"]) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one expected result (checks the checker)")
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs and one pass (see smoke.py)")
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources (src/main/scala/graft) not found beside perfbench/")
    os.makedirs(WORK, exist_ok=True)
    build()
    # the first run in a checkout builds; its own clock starts after that
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)

    data_dir = make_data(args.workload, args.smoke)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    spec = make_ops(args.workload, args.seed, run_dir)
    n = 1 if args.smoke else \
        max(1, int(args.seconds / NOMINAL_PASS_S[args.workload] + 0.5))
    spec.update(workload=args.workload, dir=data_dir, seconds=args.seconds,
                run_passes=max(3, n) if args.trace else n,
                trace=bool(args.trace),
                oracle_names=sorted({o["text"] for ps in spec["passes"]
                                     for o in ps if o["kind"] == "entry"}
                                    | {"dedup_ngram_jaccard"}))
    t_jvm = time.time()
    out = run_jvm(args.workload, spec, run_dir, deadline)
    t_check = time.time()
    verdicts = check.verify(args.workload, spec, out, data_dir, args.corrupt)
    metrics, record = check.metrics(spec, out, verdicts, bool(args.trace))
    record.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  heap_mb=out["heap_mb"], cores=out["cores"],
                  jvm_flags=out["jvm_flags"], wall_s=round(time.time() - t_start, 2),
                  jvm_s=round(t_check - t_jvm, 2),
                  check_s=round(time.time() - t_check, 2))
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)
    failed = sum(1 for v in verdicts if v)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(verdicts),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
