#!/usr/bin/env python3
"""Benchmark runner for the time-series core and the pipeline operators.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt refers to the
enclosing build); later runs start the JVM directly from the recorded
classpath and the program's JVM options. The last stdout line is the
result JSON. Per-run artifacts (contention readings, sample counts,
spans of traced runs) are kept under perfbench/.work/artifacts/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("dashboard", "ingest", "pipeline")
RUN_LIMIT_S = 170
# Driver heap, passed to the program's build through SPARK_DRIVER_MEM,
# which it reads for its -Xmx (default 8g). The benchmark JVM peaks at
# 1.5-3 GB of RSS; the cap keeps it from growing a larger heap on a
# shared machine.
DRIVER_MEM = "3g"
BUILD_LIMIT_S = 840


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's sources and build
    definition, and the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed since the last build."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        mem = os.environ.get("SPARK_DRIVER_MEM", DRIVER_MEM)
        want = stamp() + " SPARK_DRIVER_MEM=" + mem
        if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == want:
            return
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SPARK_DRIVER_MEM"] = mem
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                               f"{repos} -Dsbt.offline=true -Xmx2g")
        log("building program and benchmark with sbt")
        t0 = time.time()
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        if p.returncode != 0 or not os.path.exists(LAUNCH):
            raise SystemExit(f"build failed (sbt exit {p.returncode})")
        with open(STAMP, "w") as fh:
            fh.write(want)
        log(f"build done in {time.time() - t0:.1f} s")


def run_jvm(args, tag):
    """Run one benchmark JVM; returns (result dict or None, exit code)."""
    with open(LAUNCH) as fh:
        launch = fh.read().split("\n")
    cp_at = launch.index("-cp")
    work = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Djava.io.tmpdir={work}/tmp"]
           + launch[:cp_at] + ["-cp", launch[cp_at + 1], "perfbench.Main"]
           + args + ["--work", work, "--data", os.path.join(BENCH, "data")])
    logpath = os.path.join(WORK, "artifacts", f"{tag}.log")
    os.makedirs(os.path.dirname(logpath), exist_ok=True)
    with open(logpath, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"run exceeded {RUN_LIMIT_S} s; killed")
            return None, 3
    for f in os.listdir(work):
        if f.startswith(("artifact-", "spans-")):
            shutil.move(os.path.join(work, f), os.path.join(WORK, "artifacts", f))
    shutil.rmtree(work, ignore_errors=True)
    with open(logpath) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM exited {proc.returncode}; see {logpath}")
        return None, proc.returncode or 4
    try:
        return json.loads(lines[-1]), 0
    except ValueError:
        log(f"unparseable result line: {lines[-1][:200]}")
        return None, 5


def manifest_metrics(res, workload, trace):
    """Narrow a result to the metrics BENCHMARK.json lists for the run kind:
    end_to_end untraced, per_layer traced. Every other metric the run
    measured stays in its artifact. Returns None when one is missing or
    has another unit; workloads the manifest does not list keep all."""
    with open(MANIFEST) as fh:
        spec = json.load(fh)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return res
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            log(f"metric {m['name']} ({m['unit']}) missing from the run's result: {got}")
            return None
        out[m["name"]] = got
    return dict(res, metrics=out)


def artifact(tag):
    with open(os.path.join(WORK, "artifacts", f"artifact-{tag}.json")) as fh:
        return json.load(fh)


# Count-type layer metrics that must repeat exactly for one seed.
COUNT_METRICS = {
    "dashboard": ["spark.jobs_per_query", "spark.stages_per_query", "spark.tasks_per_query"],
    "ingest": ["ingest.values_posted", "rollup.closed_buckets", "streaming.input_rows"],
    "pipeline": [f"ops.{q}.{m}" for q in (
        "d_doremi_weights", "d_training_doremi", "d_bigram_logprob", "d_ppx_buckets",
        "d_pmi_pairs", "d_curation_funnel", "d_minhash_lsh", "e_ivf_topk") for m in ("jobs", "tasks")],
}
# Artifact fields that hash the run's correctness-checked outputs.
HASHES = {"dashboard": "responses_digest", "ingest": "tier_digest", "pipeline": "hashes"}


def selftest():
    """Tiny runs of every workload: same seed twice must repeat counts and
    output hashes exactly; another seed must change the inputs; the
    dashboard checker must reject an average-of-percentiles answer."""
    problems = []
    res, code = run_jvm(["--workload", "checker-selftest", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], "checker-selftest")
    if code != 0 or not res["correct"]:
        problems.append("dashboard checker self-test failed (see its log)")
    for w in WORKLOADS:
        runs = {}
        for label, seed in (("a", 1), ("b", 1), ("c", 2)):
            tag = f"selftest-{w}-{label}"
            res, code = run_jvm(["--workload", w, "--seed", str(seed), "--seconds", "1",
                                 "--trace", "1", "--tiny"], tag)
            if code != 0 or not res["correct"]:
                problems.append(f"{w} seed {seed} ({label}): exit {code}, result {res}")
                break
            runs[label] = (res, artifact(f"{w}-seed{seed}-trace1-tiny"))
        if len(runs) < 3:
            continue
        (ra, aa), (rb, ab), (_, ac) = runs["a"], runs["b"], runs["c"]
        before = len(problems)
        for m in COUNT_METRICS[w]:
            va, vb = ra["metrics"].get(m, {}).get("value"), rb["metrics"].get(m, {}).get("value")
            if va is None or va != vb:
                problems.append(f"{w}: {m} differs between two runs of one seed: {va} vs {vb}")
        if aa["detail"].get(HASHES[w]) != ab["detail"].get(HASHES[w]):
            problems.append(f"{w}: output hashes differ between two runs of one seed")
        if aa["detail"]["input_digest"] == ac["detail"]["input_digest"]:
            problems.append(f"{w}: seeds 1 and 2 gave the same inputs")
        if len(problems) == before:
            log(f"selftest {w}: counts and hashes repeat; inputs differ by seed")
    for p in problems:
        log(f"SELFTEST FAILURE: {p}")
    print(json.dumps({"selftest": "fail" if problems else "pass", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the program's sources (build.sbt, src/main/scala) are not next to the benchmark")
        return 2
    if not os.path.isfile(MANIFEST):
        log("BENCHMARK.json is not at the repository root")
        return 2
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if a.workload == "ingest" and a.trace == 0:
        ap.error("ingest runs traced only (--trace 1): it reports per-layer metrics, no end-to-end ones")
    build()
    if a.selftest:
        return selftest()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-tiny" if a.tiny else "")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--tiny"] if a.tiny else [])
    res, code = run_jvm(args, tag)
    if res is None:
        return code
    res = manifest_metrics(res, a.workload, a.trace)
    if res is None:
        return 6
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
