#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload {catalog,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. On first use it builds the benchmark JVM from
source with sbt (`perfbench/target`, classpath cached in `perfbench/.build`).
Each run then generates the workload's inputs from the seed under
`perfbench/.work/<workload>`, starts the JVM once, checks its outputs and
prints every metric with its unit and sample count. The last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`.
"""
import argparse
import ast
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.dataset as pads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

PIPELINE_FILES = 150         # data files in the generated corpus
JVM_HEAP = "4g"
RUN_LIMIT_S = 175            # whole run, build excluded
BUILD_LIMIT_S = 850
CHECK_LIMIT_S = 60
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# Per-layer metrics each workload measures; the others read 0 on it because
# the workload makes no call into that layer.
MEASURED = {
    "catalog": r"^(queries|spark|core|trace)\.",
    "pipeline": r"^(sources|extract|convert|refine|operators|spark|trace)\.",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, logfile, env=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(f"{os.path.basename(cmd[0])} did not finish within {timeout:.0f} s; see {logfile}")
        except BaseException:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            raise


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, n) for n in sorted(names)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    bdir = os.path.join(HERE, ".build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file, stamp_file = source_stamp(), os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    logfile = os.path.join(bdir, "sbt.log")
    open(logfile, "w").close()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the benchmark with sbt ...")
    rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  HERE, BUILD_LIMIT_S, logfile, env)
    lines = open(logfile, encoding="utf-8", errors="replace").read().splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"sbt build failed (exit {rc}); see {logfile}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(os.path.join(bdir, "stamp"), "w") as f:
        f.write(stamp)
    return cps[-1]


def jvm(cp, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.Main", "--work", work] + args)
    rc = run_proc(cmd, work, deadline - time.time(), os.path.join(work, "jvm.log"), env)
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.exit(f"benchmark JVM failed (exit {rc}); see {os.path.join(work, 'jvm.log')}")
    with open(res_path) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def check_catalog(res, work, sf):
    """Each sampled query's parquet output against the DuckDB oracle, with
    the repository's own gate, `tools/compare.py`. Returns (failed timed
    operations, messages)."""
    sample = res["info"]["sample"]
    if res["info"]["artifact_builds"] < 1:
        return res["attempted"], ["set-up built no memoized artifact, so core is not exercised"]
    logfile = os.path.join(work, "compare.log")
    rc = run_proc([sys.executable, os.path.join(ROOT, "tools", "compare.py"), sf,
                   os.path.join(work, "out")] + sorted(set(sample)), ROOT, CHECK_LIMIT_S, logfile)
    lines = open(logfile, encoding="utf-8", errors="replace").read().splitlines()
    failing = next((ast.literal_eval(ln.split(" failing: ", 1)[1]) for ln in lines if " failing: " in ln), [])
    bad = {q: next((ln.strip() for ln in lines if ln.split()[:1] == [q]), q) for q in failing}
    if rc != 0 and not bad:
        bad = {q: f"{q}: compare.py exited {rc}; see {logfile}" for q in sample}
    passes = res["info"]["passes"]
    return sum(sample.count(q) for q in bad) * passes, [bad[q].strip() for q in sorted(bad)]


PHONE = re.compile(r"\+\d{1,3}(?:[ -]?\d){8,12}|\b0(?:[ -]?\d){9,10}\b")
EMAIL = re.compile(r"[\w.%+-]+@[\w-]+(?:\.[\w-]+)+")


def check_pipeline(res, work, truth):
    """The last pass's documents ledger and vector table against the
    generator's ground truth."""
    rel = lambda p: p.split("/corpus/", 1)[1]  # noqa: E731
    with open(os.path.join(work, "documents.jsonl"), encoding="utf-8") as f:
        ledger = [json.loads(ln) for ln in f]
    table = pads.dataset(os.path.join(work, "spark-warehouse", "pipeline_vectors"),
                         format="parquet").to_table(columns=["data_path", "chunk_index"]).to_pylist()
    seen, chunks = {}, {}
    for o in ledger:
        seen.setdefault(rel(o["data_path"]), []).append(o)
    for r in table:
        chunks.setdefault(rel(r["data_path"]), []).append(r["chunk_index"])
    msgs = []
    expect, files = truth["expect"], truth["files"]
    for path, stage in sorted(expect.items()):
        obs = seen.get(path, [])
        if len(obs) != 1:
            msgs.append(f"{path}: in the ledger {len(obs)} times, expected once")
            continue
        o, idx = obs[0], sorted(chunks.get(path, []))
        if o["stage"] != stage:
            msgs.append(f"{path}: stage {o['stage']} ({o['reason']}), expected {stage}")
        elif stage != "ok":
            if not o["reason"]:
                msgs.append(f"{path}: removed at {stage} without a reason")
            if idx:
                msgs.append(f"{path}: removed at {stage} but has {len(idx)} table rows")
        else:
            t, f = o["anon_text"], files[path]
            if t.count("xxx@xxx.xx") != f["emails"] or t.count("xx-xxxx-xxxx") != f["phones"]:
                msgs.append(f"{path}: masks {t.count('xxx@xxx.xx')}/{t.count('xx-xxxx-xxxx')}, "
                            f"expected {f['emails']}/{f['phones']}")
            left = [m for m in EMAIL.findall(t) if m != "xxx@xxx.xx"] + PHONE.findall(t)
            if left:
                msgs.append(f"{path}: PII survived anonymize: {left}")
            if not idx or idx != list(range(len(idx))):
                msgs.append(f"{path}: table chunk indexes {idx[:5]}")
    extra = sorted(set(seen) - set(expect))
    if extra:
        msgs.append(f"outputs for files not in the corpus: {extra[:5]}")
    return (res["attempted"] if msgs else 0), msgs


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["catalog", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    needed = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(ROOT, "tools", "compare.py"), os.path.join(ROOT, "ORACLE_TIMES.json"),
              os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        sys.exit(f"not a repository checkout, missing: {missing}")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    oracle_times = json.load(open(os.path.join(ROOT, "ORACLE_TIMES.json")))
    sf = oracle_times["_sf"]  # the dataset the oracle times were measured on

    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    info = {}
    if a.workload == "catalog":
        args += ["--sf", sf, "--seed", str(a.seed)]
    else:
        truth = gen.gen_pipeline(a.seed, work, sf, PIPELINE_FILES)
        info["corpus"] = truth["counts"]
    info["input_gen_s"] = round(time.time() - t_start, 3)

    t_jvm = time.time()
    res = jvm(cp, work, args, deadline)
    info["jvm_s"] = round(time.time() - t_jvm, 3)
    failed, msgs = res["failed"], list(res["failures"])
    errors = list(res.get("errors", []))
    metrics = res["metrics"]
    if a.workload == "catalog":
        f, m = check_catalog(res, work, sf)
        sample = res["info"]["sample"]
        spark_s = sum(res["info"]["query_s"].get(q, 0.0) for q in sample)
        oracle_s = sum(oracle_times.get(q, 0.0) for q in sample)
        metrics["queries.ratio_duckdb"] = {"value": spark_s / oracle_s, "unit": "ratio", "n": len(sample)}
    else:
        f, m = check_pipeline(res, work, truth)
    info["check_s"] = round(time.time() - t_jvm - info["jvm_s"], 3)
    failed = min(res["attempted"], failed + f)
    msgs += m

    names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    out = {}
    for name in names:
        if name in metrics:
            got = metrics[name]
            if got["unit"] != units[name]:
                sys.exit(f"{name}: unit {got['unit']} differs from BENCHMARK.json {units[name]}")
            out[name] = got
        elif a.trace == 1 and not re.search(MEASURED[a.workload], name):
            out[name] = {"value": 0.0, "unit": units[name], "n": 0}
        else:
            sys.exit(f"{a.workload} did not report {name}")

    for name, m in out.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']} (n={m['n']})")
    # measured but not gated (wall-clock latency and throughput)
    for name, m in metrics.items():
        if name not in units:
            print(f"info {name}: {m['value']:.6g} {m['unit']} (n={m['n']})")
    for k, v in {**res["info"], **info}.items():
        print(f"info {k}: {json.dumps(v)}")
    for e in errors + msgs:
        print(f"FAILED: {e}")
    correct = not msgs and not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in out.items()}}))


if __name__ == "__main__":
    main()
