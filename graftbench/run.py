"""graft's benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload corpus_dupheavy --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --selftest [--seed 1]

Builds graft from source (graftbench/build.py), generates the
workload's inputs from the seed, runs it in one JVM at
local[SPARK_GRAFT_CPUS], checks the outputs, and prints as its last
line one JSON object: correct, attempted, failed and the metrics named
in BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
The full result (stamp, traffic, checks, spans) goes to a sidecar file
under the build directory. See graftbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("corpus_dupheavy", "corpus_unique", "stream_kmeans")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


# per-layer metric prefixes of the layers each workload runs; the
# others read 0 on that workload
LAYERS = {
    "corpus": ("dedup.", "pipeline.", "functions.tokens.", "functions.md5_minhash_sig.",
               "functions.ngram_stats.", "functions.quality_score.", "functions.jaccard_fs.",
               "job.", "spark.", "setup.", "trace."),
    "stream": ("streaming.", "sources.", "functions.assign.", "spark.", "setup.", "trace."),
}


def metric_spec(trace):
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work):
    """Run graft.perfbench.Main; return its result object."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(min(4, os.cpu_count() or 1))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Main"] + args + ["--work", work, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the workload JVM ran past {JVM_TIMEOUT_S} s and was killed")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if not os.path.exists(out):
        fail(f"the workload JVM exited with {proc.returncode} and no result")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classes, digest = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)
    work = os.path.join(build.build_dir(), f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_before = os.getloadavg()
    t0 = time.time()
    try:
        if a.selftest:
            res = run_jvm(classes, ["--selftest", "--seed", str(a.seed)], work)
        else:
            res = run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["stamp"].update(commit=commit(), source_sha256=digest, wall_s=time.time() - t0,
                        load_before=load_before, load_after=os.getloadavg())
    if "error" in res:
        fail(f"workload failed: {res['error']}")

    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    sidecar = os.path.join(results, name + ".json")
    with open(sidecar, "w") as fh:
        json.dump(res, fh, indent=1)
    for c in res.get("checks", []):
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c.get('detail', '')}", file=sys.stderr)
    print(json.dumps({"stamp": res["stamp"]}))
    if "traffic" in res:
        print(json.dumps({"traffic": res["traffic"]}))
    print(f"sidecar: {os.path.relpath(sidecar, build.ROOT)}")
    if a.selftest:
        for c in res["checks"]:
            print(f"{'ok  ' if c['ok'] else 'FAIL'} {c['name']}")
        sys.exit(0 if res["correct"] else 1)

    runs = LAYERS[a.workload.split("_")[0]]
    metrics = {}
    for m, unit in metric_spec(a.trace):
        if m in res["metrics"]:
            metrics[m] = {"value": res["metrics"][m], "unit": unit}
        elif a.trace and not m.startswith(runs):
            metrics[m] = {"value": 0.0, "unit": unit}
        else:
            fail(f"the run did not measure {m}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
