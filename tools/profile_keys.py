#!/usr/bin/env python3
"""Produce PROFILE_r{N}.json: isolated best-of-R timings per gate key.

Each key runs in a FRESH JVM via tools/run.sh graft.Bench restricted to
that key (SPARK_GRAFT_BENCH_KEYS), its metrics file written to a temp
dir so BENCH_LATEST.json is never overwritten (run 1 carries JIT
warmup; the min is the code-attributable number — see PERF.md
host-noise caveat). Load averages are recorded around the sweep so a
reader can judge contention.

Usage: tools/profile_keys.py <round> [sfDir] [runs] [key ...]
"""
import json, os, re, shutil, subprocess, sys, tempfile

DEFAULT_KEYS = [
    # every key that has ever spiked in a driver bench JSON, plus the
    # standing hot set (r10 list + the r10 driver-run spikes)
    "sim_recall", "dedup_minhash_lsh", "kmeans_lloyd_embed", "text_chunk",
    "kmeans_lloyd_2d", "sim_topk_cosine", "embed_outliers", "dedup_apply",
    "dedup_apply_cc", "dedup_minhash_md5", "dedup_semantic", "pipeline_training",
    "dedup_simhash", "text_quality", "dedup_cross_lsh", "text_passage_dedup",
    # r11 heavyweights (profiled from r12 on: the four self-training
    # PQ/IVF-PQ keys post-sampled-training, BPE, the sketch keys)
    "sim_pq_topk", "sim_pq_recall", "sim_ivfpq_topk", "sim_ivfpq_recall",
    "sim_ivf_topk", "text_bpe_train", "text_bpe_encode", "dedup_simhash_md5",
    "multimodal_phash",
    # r12 closing-draw deltas the verdict flagged as unattributed
    # (q3/q4/cosine_lsh were not in the r12 set) — profiled from r13 on
    "q3_join_agg", "q4_broadcast_join", "dedup_cosine_lsh",
]

def load_avg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])

def main():
    rnd = int(sys.argv[1])
    sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    keys = sys.argv[4:] or DEFAULT_KEYS
    here = os.path.dirname(os.path.abspath(__file__))
    out = {"round": rnd, "sf": os.path.basename(sfdir.rstrip("/")),
           # the session's default when SPARK_GRAFT_CPUS is unset
           "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
           "runs_per_key": runs, "load_avg_start": load_avg(),
           "note": ("isolated graft.Bench best-of-%d per key (fresh JVM each); "
                    "run 1 carries JIT warmup - min is the code-attributable "
                    "number (see PERF.md host-noise caveat)") % runs,
           "keys": {}}
    tmp = tempfile.mkdtemp(prefix="profile_keys_")
    for k in keys:
        env = dict(os.environ, SPARK_GRAFT_BENCH_KEYS=k, SPARK_GRAFT_BENCH_RUNS=str(runs),
                   SPARK_GRAFT_SF_DIR=sfdir,
                   SPARK_GRAFT_BENCH_OUT=os.path.join(tmp, k + ".json"))
        p = subprocess.run([os.path.join(here, "run.sh"), "graft.Bench"],
                           capture_output=True, text=True, env=env)
        times = [float(m) for m in
                 re.findall(r"\[bench\] %s run \d+: ([0-9.]+) s" % re.escape(k), p.stderr)]
        if len(times) != runs:
            print(f"FAIL {k}: expected {runs} timings, got {times}\n{p.stderr[-500:]}",
                  file=sys.stderr)
            out["keys"][k] = {"runs": times, "min": None, "error": True}
            continue
        out["keys"][k] = {"runs": times, "min": min(times)}
        print(f"{k}: min {min(times):.2f} s  (runs {times}, load {load_avg():.1f})")
    shutil.rmtree(tmp)
    out["load_avg_end"] = load_avg()
    path = f"PROFILE_r{rnd}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}")

if __name__ == "__main__":
    main()
