#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client against a local Spark
session, on one of three workloads.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the harness and the
program with sbt (offline); later runs reuse the build while the sources are
unchanged. Inputs are generated from --seed and cached per seed. Each run is
a fresh JVM: set-up (JVM start, session build, one untimed warm-up
round), then whole rounds until --seconds have passed, then
output checks. With --trace 1 the same number of rounds runs again with
Spark listeners registered and the per-layer metrics are printed instead.

The last stdout line is the JSON result; the lines before it name every
metric with its unit, the regime the run measured under, and, with
--trace 1, each workload-specific layer metric.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("tpch", "corpus_dedup", "stream_state")
HEAP = "3g"
YOUNG = "768m"
JVM_SECONDS = 170
BUILD_SECONDS = 600
# the module opens Spark needs on JDK 17 outside spark-submit (the same list
# the program's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
PROGRAM_FILES = ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "scripts/check.py")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(WORK, "build", f"{stamp}.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    out_path = os.path.join(WORK, "build", "sbt.log")
    t0 = time.time()
    with open(out_path, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_SECONDS, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        log("\n".join(lines[-40:]))
        raise SystemExit(f"build failed (exit {code})")
    cp = next(ln for ln in reversed(lines) if "perfbench" in ln and ":" in ln
              and not ln.startswith("["))
    with open(cp_file, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_tpch(out, data):
    """Hash every reference result against DuckDB running the query's
    oracle SQL, with scripts/check.py's column-sorted convention."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                          data, out["tpch_results"]], text=True, capture_output=True,
                         timeout=60)
    verdict = {}
    for ln in res.stdout.splitlines():
        parts = ln.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = (parts[0] == "PASS", ln)
    if "pass /" not in res.stdout:
        log(res.stdout[-2000:] + res.stderr[-2000:])
    return verdict


def check_corpus(out, data):
    """Planted structure must be recovered: every near-duplicate document
    pair by the set-similarity join and in one component, every near-duplicate vector pair in
    each other's k-NN, every exact-copy query's source as its top-1 match."""
    import pyarrow.parquet as pq
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    o = out["corpus_outputs"]

    def rows(k):
        return pq.read_table(o[k]).to_pylist() if k in o else []

    verdict = {}
    pairs = {(r["id1"], r["id2"]) for r in rows("ppjoin_pairs")}
    miss = [p for p in map(tuple, truth["doc_pairs"]) if p not in pairs]
    verdict["ppjoin_pairs"] = (not miss, f"{len(miss)} planted pairs missed")
    cluster = {r["id"]: r["cluster"] for r in rows("cc_clusters")}
    split = [p for p in truth["doc_pairs"]
             if p[0] not in cluster or cluster.get(p[0]) != cluster.get(p[1])]
    verdict["cc_clusters"] = (not split, f"{len(split)} planted pairs split")
    knn = {(r["qid"], r["vid"]) for r in rows("knn_join")}
    lost = [p for p in truth["vec_pairs"]
            if (p[0], p[1]) not in knn or (p[1], p[0]) not in knn]
    verdict["knn_join"] = (not lost, f"{len(lost)} planted pairs missing from k-NN")
    best = {}
    for r in rows("ann_join"):
        if r["qid"] not in best or (r["sim"], -r["vid"]) > (best[r["qid"]]["sim"],
                                                            -best[r["qid"]]["vid"]):
            best[r["qid"]] = r
    wrong = [q for q, s in truth["query_top1"]
             if q not in best or best[q]["vid"] != s or best[q]["sim"] != 1.0]
    verdict["ann_join"] = (not wrong, f"{len(wrong)} copies without their source top-1")
    return verdict


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    if a.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        return 0 if unittest.TextTestRunner().run(suite).wasSuccessful() else 1
    if not a.workload:
        ap.error("--workload is required")
    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing or not shutil.which("sbt") or not shutil.which("java"):
        log(f"cannot build the program here: missing {missing or 'sbt/java'}")
        return 2

    stamp = source_stamp()
    cp = build(stamp)
    t_start = time.time()
    data, sizes = gen.ensure(a.workload, a.seed, os.path.join(WORK, "data"))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
               SPARK_LOCAL_IP="127.0.0.1")
    # a fixed heap layout without pre-touching: a young generation of fixed
    # size, used in full from the first collections on, and an old
    # generation that fills from its start and is touched only as far as
    # data is promoted into it. The process high-water mark is then that
    # fixed young size plus what the program keeps (promoted heap, native
    # and off-heap memory). G1's default sizing instead grows the heap on
    # pause-time estimates, which moved the peak by up to a quarter between
    # runs of the same input.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--data", data, "--work", run_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--spawn-ms", repr(time.time() * 1000)])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        code = run_group(cmd, max(30, JVM_SECONDS - (time.time() - t_start)),
                         cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
    # scratch goes in any case; a failed run keeps its log and outputs
    for d in ("local", "tmp", "stream"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if code != 0:
        with open(jvm_log) as f:
            log("".join(f.readlines()[-60:]))
        log(f"harness JVM {'timed out' if code is None else f'exited {code}'}")
        return 1
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)

    verdict = {}
    if a.workload == "tpch":
        verdict = check_tpch(result["checks"], data)
        for o in result["ops"]:
            if o["name"] not in verdict:
                verdict[o["name"]] = (False, "no verdict from check.py")
    elif a.workload == "corpus_dedup":
        verdict = check_corpus(result["checks"], data)
    for o in result["ops"]:
        ok, why = verdict.get(o["name"], (True, ""))
        if o["ok"] and not ok:
            o["ok"], o["note"] = False, why
    measured = [o for o in result["ops"] if o["kind"] != "warmup"]
    failed = [o for o in measured if not o["ok"]]
    for o in failed[:5]:
        log(f"FAILED {o['name']} round {o['round']}: {o['note']}")

    e = metrics.e2e(result)
    regime = dict(result["regime"], seed=a.seed, commit=git_commit(),
                  source=stamp, workload=a.workload, inputs=sizes,
                  seconds=a.seconds, trace=a.trace)
    print("REGIME " + json.dumps(regime, sort_keys=True))
    st = result["setup"]
    print(f"SETUP jvm_start_s={(st['main_ms'] - st['spawn_ms']) / 1000:.3f} "
          f"session_s={st['session_s']:.3f} "
          f"warmup_s={st['warmup_s']:.3f}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"]:
        print(f"METRIC {m['name']} {e[m['name']]:.6g} {m['unit']}")
    if e["op_p90_s"] is None:
        print(f"METRIC op_p90_s n/a s (fewer than 10 of {e['ops']} samples beyond p90)")
    else:
        print(f"METRIC op_p90_s {e['op_p90_s']:.6g} s ({e['ops']} samples)")
    print(f"METRIC failed_frac {len(failed) / max(1, len(measured)):.6g} "
          f"({len(failed)}/{len(measured)})")
    out_metrics = metrics.layers(result) if a.trace else e
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    for k in sorted(out_metrics):
        if a.trace:
            unit = units.get(k) or ("s" if k.startswith("functions.") else
                                    "s/round" if k.endswith("_s") else "")
            print(f"LAYER {k} {out_metrics[k]:.6g} {unit}".rstrip())
    # a layer metric a workload never exercises (no streaming in tpch, say)
    # reads 0: that layer did no work
    shown = {k: {"value": out_metrics[k] if k in out_metrics or not a.trace else 0.0,
                 "unit": u} for k, u in units.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-{a.seed}-trace{a.trace}"
                           f"-{int(time.time())}.json"), "w") as f:
        json.dump({"regime": regime, "metrics": out_metrics, "e2e": e,
                   "ops": [(o["name"], o["kind"], (o["end"] - o["start"]) / 1000)
                           for o in result["ops"]],
                   "rounds": result["rounds"],
                   "failed": failed,
                   "trace": result.get("trace")}, f)
    if not failed:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(measured),
                      "failed": len(failed), "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
