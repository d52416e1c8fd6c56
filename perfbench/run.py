#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <dsl_paths|analytics_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(perfbench/jvm, which compiles graft's sources with it), generates the
analytics tables and fills the DuckDB oracle cache, all under
perfbench/.work. Every run then generates its own seeded inputs, starts one
JVM on local[N] (N = CPUs), checks the outputs against DuckDB and closed
forms, prints a stamp line, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full record of each run, spans included, is kept in
perfbench/.work/results.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM_DIR = os.path.join(HERE, "jvm")
CLASSES = os.path.join(JVM_DIR, "target", "scala-2.13", "classes")
def _spark_home() -> str:
    """$SPARK_HOME, else the distribution that `spark-submit` on PATH is in."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_HOME = _spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ("dsl_paths", "analytics_mix")

MIX_SEED = 42                 # the analytics tables are fixed, like graft's fixtures
MIX_DIR = os.path.join(WORK, "data", "sf0.1")
SMALL_DIR = os.path.join(WORK, "data", "sf0.01")
FSM_EVENTS, FSM_KEYS, FSM_HOT = 500_000, 1000, 0.3
STREAM_FILES, STREAM_FILE_EVENTS, STREAM_USERS = 11, 1000, 1500

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "geomean_ms": "ms"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2):
    log(msg)
    sys.exit(code)


def require_repo() -> None:
    """The benchmark measures the graft sources beside it; without them (or
    without the toolchain) there is nothing to run."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala: run from a graft checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(JVM_DIR, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(JVM_DIR, "build.sbt"), os.path.join(JVM_DIR, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(main: str, *args: str, tmp: str, heap: str = "3g") -> list:
    return (["java", *ADD_OPENS, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{CLASSES}:{SPARK_JARS}/*", main, *args])


def build() -> None:
    """Compile the harness with sbt (offline) when the sources changed, then
    export the mix's oracle SQL."""
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=JVM_DIR, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed", 3)
    log(f"built in {time.time() - t0:.0f} s")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(java_cmd("graftbench.Oracles", tmp=tmp, heap="1g"), stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        fail("could not read the mix's oracle SQL", 3)
    with open(os.path.join(WORK, "oracle_sql.json"), "w") as f:
        f.write(r.stdout)
    with open(stamp, "w") as f:
        f.write(digest)


def prepare_mix() -> None:
    """Generate the fixed analytics tables (sf0.1 and sf0.01) and fill the
    oracle cache for every query of the mix."""
    import oracle
    gen_digest = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()
    for sf, d in ((0.1, MIX_DIR), (0.01, SMALL_DIR)):
        stamp = os.path.join(d, "GEN")
        if not (os.path.exists(stamp) and open(stamp).read() == gen_digest):
            log(f"generating the sf{sf} tables")
            shutil.rmtree(d, ignore_errors=True)
            gen.write_tables(d, sf, MIX_SEED)
            with open(stamp, "w") as f:
                f.write(gen_digest)
    spec = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    t0 = time.time()
    for name, sql in spec["oracles"].items():
        oracle.result(sql, SMALL_DIR if name in spec["small_checked"] else MIX_DIR, WORK)
    if time.time() - t0 > 1:
        log(f"oracle cache filled in {time.time() - t0:.0f} s")


def prepare_inputs(workload: str, seed: int, run_dir: str) -> dict:
    """Seeded inputs of one run (not counted in set-up time)."""
    if workload == "analytics_mix":
        return {"mix": MIX_DIR, "mix_small": SMALL_DIR}
    path = os.path.join(run_dir, "fsm_events.parquet")
    gen.fsm_events(path, seed, FSM_EVENTS, FSM_KEYS, FSM_HOT)
    events = os.path.join(run_dir, "events.parquet")
    import pyarrow.parquet as pq
    pq.write_table(gen.events_table(seed, STREAM_FILES * STREAM_FILE_EVENTS, STREAM_USERS), events)
    src, pending = os.path.join(run_dir, "stream_src"), os.path.join(run_dir, "stream_pending")
    gen.split_events(events, pending, STREAM_FILES)
    os.makedirs(src)
    # the file source admits files oldest first: mtimes follow event_id order
    names = sorted(os.listdir(pending))
    base = time.time() - len(names)
    for i, f in enumerate(names):
        os.utime(os.path.join(pending, f), (base + i, base + i))
    os.rename(os.path.join(pending, names[0]), os.path.join(src, names[0]))
    return {"fsm_events": path, "stream_src": src, "stream_pending": pending, "events": events}


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, _, head = r.stdout.strip().partition("\n")
        ok = r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT)
        return head if ok else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def end_to_end(rec: dict) -> dict:
    """The end-to-end metrics of one run, defined alike for every workload.

    A workload is a fixed list of named operations (the DSL paths and the
    stream's micro-batch; the queries of the mix), run in whole rounds:
    pass_s sums each operation's median time, geomean_ms is the geometric
    mean of those medians (each over the operations that ran to their end),
    and setup_s is the set-up time from JVM start."""
    ok = {}
    for o in rec["ops"]:
        if o["error"] is None:
            ok.setdefault(o["name"], []).append(o["ms"])
    med = [statistics.median(v) for v in ok.values()]
    return {
        "setup_s": rec["setup"]["total_s"],
        "pass_s": sum(med) / 1e3,
        "geomean_ms": math.exp(sum(math.log(m) for m in med) / len(med)) if med else 0.0,
    }


def check(workload: str, rec: dict, inputs: dict):
    """Problems found in the run's outputs, and the names of the operations
    that count as failed because their output shows a known fault
    (`check.KNOWN_FAULTS`)."""
    import check as chk
    if "fatal" in rec["check"]:
        return [f"run aborted: {rec['check']['fatal']}"], set()
    if workload == "analytics_mix":
        per_query = chk.check_mix(rec, WORK, MIX_DIR, SMALL_DIR)
        faulty = {n for n, p in per_query.items() if p and n in chk.KNOWN_FAULTS}
        for n in sorted(faulty):
            log(f"known fault, counted as failed: {'; '.join(per_query[n])}")
        return [x for n, p in per_query.items() if n not in faulty for x in p], faulty
    return chk.check_dsl(rec, inputs["fsm_events"]) + chk.check_stream(rec, inputs["events"]), set()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    require_repo()
    os.makedirs(WORK, exist_ok=True)
    build()
    prepare_mix()

    cpus = os.cpu_count() or 4
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t_start = time.time()
        inputs = prepare_inputs(a.workload, a.seed, run_dir)
        t_in = time.time()
        out = os.path.join(run_dir, "record.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus), "--work", run_dir, "--out", out]
        for k, v in inputs.items():
            args += [f"--{k}", v]
        log_path = os.path.join(run_dir, "jvm.log")
        try:
            with open(log_path, "w") as lf:
                r = subprocess.run(java_cmd("graftbench.Main", *args, tmp=os.path.join(run_dir, "tmp")),
                                   stdout=lf, stderr=subprocess.STDOUT, timeout=170)
        except subprocess.TimeoutExpired:
            fail("harness did not finish within 170 s", 4)
        if r.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
            fail(f"harness exited with code {r.returncode}", 4)
        rec = json.load(open(out))
        t_jvm = time.time()
        problems, faulty = check(a.workload, rec, inputs)
        log(f"inputs {t_in - t_start:.1f} s, harness {t_jvm - t_in:.1f} s, checks {time.time() - t_jvm:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems[:20]:
        log(f"CHECK FAILED {p}")
    e2e = end_to_end(rec)
    failed = sum(1 for o in rec["ops"] if o["error"] is not None or o["name"] in faulty)
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "sf": 0.1, "jvm": rec["jvm_version"], "spark": rec["spark_version"],
        "git_commit": git_commit(), "source_digest": source_digest()[:16],
        "host.control_s": rec["metrics"].get("host.control_s"), "run_id": rec["run_id"],
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    result = {
        "correct": not problems,
        "attempted": len(rec["ops"]),
        "failed": failed,
        "metrics": ({k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()} if a.trace == 0
                    else layers(rec)),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    rec_path = os.path.join(WORK, "results", f"{a.workload}-{a.seed}-t{a.trace}-{rec['run_id']}.json")
    with open(rec_path, "w") as f:
        json.dump({"stamp": stamp, "end_to_end": e2e, "problems": problems, **rec}, f)
    if a.trace:
        import spans
        print(spans.report(rec_path, os.path.join(WORK, "results")))
    print(json.dumps({"stamp": stamp, "workload_metrics": rec["metrics"]}))
    print(json.dumps(result))
    return 0


def layers(rec: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json with its unit; a layer this
    workload does not run reads 0."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
    return {m["name"]: {"value": float(rec["layer"].get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}


if __name__ == "__main__":
    sys.exit(main())
