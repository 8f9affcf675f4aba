"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed n] [--seconds s]

Workloads and metrics are declared in BENCHMARK.json and described in
perfbench/METRICS.md. One run builds the engine if its sources changed
(perfbench/build.py), makes the workload's inputs from the seed, starts
one JVM at local[N] with N = nproc / 2 (1 to 4) and one client thread, and
prints, as the last line of standard output, one JSON object with the
keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics; --trace 1 reports the per-layer metrics of a run
with spans and a Spark listener. Everything the run writes goes under
the build directory ($CARGO_TARGET_DIR, default .bench_build), where
results/ keeps each run's full artifact.

`--workload all` runs every workload untraced and traced and prints
every metric with its unit. It includes lake_upsert, which BENCHMARK.json
does not declare (see METRICS.md).
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_geodair  # noqa: E402

WORKLOADS = ["medallion_backfill", "catalog_sf01", "lake_upsert"]
# local[N] with N = half the usable CPUs (1 to 4): the other half keeps the
# JIT compiler, the collector and a shared VM's steal off the task threads
MAX_CORES = 4
JVM_TIMEOUT_S = 175
# medallion corpus: 5 pollutants x DAYS x SITES x 24 hours
MEDALLION_DAYS = 3
MEDALLION_SITES = 40
# the read-only sf0.1 tables of TESTDATA.md
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpu_steal_ticks():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def jvm(classes, work, out, args):
    """Run the benchmark's JVM main; return its artifact (dict)."""
    jars = os.path.join(build.spark_jars(), "*")
    cp = ":".join([classes, os.path.join(ROOT, "src/main/resources"), jars])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp] + opens + \
        ["-cp", cp, "graft.perfbench.Main", "--work", work, "--out", out,
         "--launch-ns", str(time.time_ns())] + args
    if os.path.exists(out):
        os.remove(out)
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: JVM did not finish within %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(out):
        raise SystemExit("perfbench: JVM exited with %d" % rc)
    with open(out) as f:
        return json.load(f)


def workload_args(name, seed, work):
    """Make the workload's inputs from the seed; return the JVM's input args."""
    if name == "medallion_backfill":
        csv_dir = os.path.join(work, "csv")
        shutil.rmtree(csv_dir, ignore_errors=True)
        rows, nbytes = gen_geodair.generate(csv_dir, seed, MEDALLION_DAYS, MEDALLION_SITES)
        gold = gen_geodair.expected_gold_rows(seed, MEDALLION_DAYS, MEDALLION_SITES)
        return ["--csv-dir", csv_dir, "--csv-rows", str(rows), "--csv-bytes", str(nbytes),
                "--gold-rows", str(gold)]
    if name == "catalog_sf01":
        if not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")):
            raise SystemExit("perfbench: no sf0.1 tables at %s (set PERFBENCH_SF_DIR)" % SF_DIR)
        return ["--sf-dir", SF_DIR, "--expected", os.path.join(HERE, "catalog_expected.json")]
    if name == "lake_upsert":
        return []
    raise SystemExit("perfbench: unknown workload %s" % name)


def run_once(name, seed, seconds, trace, build_dir, declared):
    classes = build.build(build_dir)
    work = os.path.join(build_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) // 2))
    inputs = workload_args(name, seed, work)

    steal0, t0 = cpu_steal_ticks(), time.time()
    art = jvm(classes, work, os.path.join(work, "artifact.json"),
              ["--cores", str(cores), "--workload", name, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)] + inputs)
    steal_s = (cpu_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

    metrics = art["metrics"]
    metrics["setup_s"] = {"value": art["setup_s"], "unit": "s"}
    correct = art["failed"] == 0 and art["attempted"] > 0
    errors = list(art["errors"])
    # outputs must repeat exactly for one build and one set of inputs: across
    # runs of a seed, and between the traced and untraced runs
    with open(classes + ".stamp") as f:
        key = hashlib.sha256((f.read() + " ".join(inputs)).encode()).hexdigest()[:16]
    fp_file = os.path.join(build_dir, "fingerprints", key, "%s-%d.txt" % (name, seed))
    os.makedirs(os.path.dirname(fp_file), exist_ok=True)
    if os.path.isfile(fp_file):
        with open(fp_file) as f:
            first = f.read()
        if first != art["fingerprint"]:
            correct = False
            errors.append("output fingerprint %s differs from an earlier run's %s"
                          % (art["fingerprint"], first))
    elif correct:
        with open(fp_file, "w") as f:
            f.write(art["fingerprint"])

    art.update({"seed": seed, "seconds": seconds, "trace": trace, "nproc": os.cpu_count(),
                "affinity": len(os.sched_getaffinity(0)),
                "steal_s": steal_s, "elapsed_s": time.time() - t0, "errors": errors,
                "correct": correct})
    res_dir = os.path.join(build_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, "%s-s%d-t%d.json" % (name, seed, trace)), "w") as f:
        json.dump(art, f, indent=1)
    for e in errors[:5]:
        log("error: " + e)
    log("%s seed=%d trace=%d cores=%d nproc=%d steal=%.2fs %s" % (
        name, seed, trace, cores, os.cpu_count(), steal_s,
        " ".join("%s=%s" % (k, v) for k, v in art["notes"].items())))

    out = {}
    for m in declared:
        if m["name"] in metrics:
            out[m["name"]] = {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}  # layer idle in this workload
        else:
            raise SystemExit("perfbench: %s did not measure %s" % (name, m["name"]))
    return {"correct": correct, "attempted": art["attempted"], "failed": art["failed"],
            "metrics": out}, art


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")) or not os.path.isfile(spec_file):
        raise SystemExit("perfbench: run from a checkout of the repository (needs src/main/scala "
                         "and BENCHMARK.json)")
    with open(spec_file) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)

    if a.workload != "all":
        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        line, _ = run_once(a.workload, a.seed, seconds, a.trace, build_dir, declared)
        print(json.dumps(line))
        return

    for name in WORKLOADS:
        arts = [run_once(name, a.seed, seconds, t, build_dir, [])[1] for t in (0, 1)]
        print("== %s  (seed %d, %d s, correct=%s, failed %d/%d)" % (
            name, a.seed, seconds, all(x["correct"] for x in arts),
            sum(x["failed"] for x in arts), sum(x["attempted"] for x in arts)))
        for label, x in zip(("untraced", "traced"), arts):
            for k, v in sorted(x["metrics"].items()):
                print("  %-8s %-44s %16.6g %s" % (label, k, v["value"], v["unit"]))
            for k, v in x["notes"].items():
                print("  %-8s %-44s %s" % (label, k, v))
        overhead = arts[1]["metrics"]["wall_s"]["value"] / arts[0]["metrics"]["wall_s"]["value"] - 1
        print("  tracing overhead on wall_s: %+.1f%%" % (100 * overhead))


if __name__ == "__main__":
    main()
