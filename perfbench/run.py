"""graft benchmark: one workload run, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The run builds graft from source
(``perfbench/build.py``), generates the workload's inputs from the seed
(``perfbench/gen.py``), starts one fresh JVM that sets up, runs the
workload as a single closed-loop client for ``--seconds`` and checks
every result, then prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.

Each run works in its own directory under ``.bench_out/``; the full
record (host facts, corpus sizes, index bytes, per-type counts, first
failures) is kept in ``.bench_out/records/`` and the bulky data and
index artifacts are deleted when the run ends.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 175

# scale: corpus shape (gen.SCALES)
# setups: timed set-up passes per run, after one untimed cold pass
#   (setup_s is their median)
# warmup: untimed requests / pipeline passes first
WORKLOADS = {
    "serve_small": {"scale": "sf0.1", "setups": 3, "warmup": 20},
    "curate_batch": {"scale": "sf0.01", "setups": 3, "warmup": 0},
}
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    arg for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                  "java.base/sun.nio.cs", "java.base/sun.security.action",
                  "java.base/sun.util.calendar")
    for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def git_commit():
    """HEAD of the checkout when it is a git work tree, else None."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    return open(path).read().strip() if os.path.isfile(path) else None


def run(workload, seed, seconds, trace, overrides=None):
    """One run; `overrides` replaces WORKLOADS settings (the tests use a
    smaller corpus)."""
    w = dict(WORKLOADS[workload], **(overrides or {}))
    jar = build.build(ROOT)
    started = time.time()
    rundir = os.path.join(OUT, "%s-s%d-t%d-%d" % (workload, seed, trace, os.getpid()))
    try:
        return run_in(rundir, jar, w, workload, seed, seconds, trace, started)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def run_in(rundir, jar, w, workload, seed, seconds, trace, started):
    shutil.rmtree(rundir, ignore_errors=True)
    gen.generate(rundir, workload, seed, w["scale"])
    # native-library extraction and Spark's temp dirs stay in the run dir
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp]
           + ["-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", rundir, workload, str(seconds), str(trace),
              str(w["setups"]), str(w["warmup"])])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"))
    with open(os.path.join(rundir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=rundir)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("runner timed out; see " + os.path.join(rundir, "jvm.log"))
    result_path = os.path.join(rundir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(rundir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError("runner exited with %d" % code)
    with open(result_path) as f:
        res = json.load(f)
    res["facts"]["git_commit"] = git_commit()
    res["facts"]["build"] = os.path.basename(os.path.dirname(jar))
    res["facts"]["run_seconds"] = seconds
    res["facts"]["trace"] = trace
    res["facts"]["wall_s"] = round(time.time() - started, 3)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    name = os.path.basename(rundir) + ".json"
    with open(os.path.join(OUT, "records", name), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if trace and os.path.exists(os.path.join(rundir, "spans.jsonl")):
        shutil.move(os.path.join(rundir, "spans.jsonl"),
                    os.path.join(OUT, "records", name[:-5] + ".spans.jsonl"))
    return res


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    res = run(a.workload, a.seed, a.seconds, a.trace)
    missing = [n for n in units if n not in res["metrics"]]
    if missing:
        raise RuntimeError("runner did not emit %s" % missing)
    out = {"correct": res["failed"] == 0 and res["attempted"] > 0,
           "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()}}
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1:])
