"""Benchmark driver: builds the engine and harness from source, makes the
seeded inputs, runs one workload for a fixed time, checks the outputs
and prints one JSON result line.

    python3 perfbench/run.py --workload driver_loops --seed 1 --seconds 10 --trace 0

Workloads: reference_pipeline, driver_loops.
With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run. The full
record (provenance, every pass, every op latency) and, for traced runs,
the span file go to ``.bench_build/records/``; compare two records with
``perfbench/diff.py``.

``python3 perfbench/run.py --expect`` re-takes the expected result
digests of the registry queries into ``perfbench/expected.json`` and
cross-checks the oracle-covered ones against DuckDB.

Every file the benchmark writes is under ``.bench_build/`` at the root
of the checkout.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# The construction-heavy registry queries, one per module whose eager
# driver loops they run: ops.Graph, ops.CurationOps, ops.Dedup,
# ops.NonOracle with index.Retrieval, and ops.Similarity.
DRIVER_LOOPS = ["q131_pagerank", "q144_longest_repeated_substring",
                "q198_incremental_clusters", "q200_retrieval_eval", "q209_graph_upsert"]

# Input sizes per workload. driver_loops runs on the sf 0.1 tables (600k
# lineitem rows, 5k documents, 2k embeddings), the scale of the engine's
# own bench, and warms up on the sf 0.001 tables. "passes" is the least
# number of whole passes a run measures; more follow while time is left.
WORKLOADS = {
    # Every op runs the same job over another corpus. The JIT needs about
    # two passes' worth of ops before a pass's CPU time stops falling, so
    # the warm-up runs 12 small corpora, and the median of three passes
    # keeps a slow first pass out of the figures.
    "reference_pipeline": {"corpora": 6, "docs": (60, 160), "passes": 3,
                           "warm_corpora": 12, "warm_docs": (20, 60),
                           "probe_docs": 200, "stream_docs": 400, "stream_batch": 100},
    "driver_loops": {"queries": DRIVER_LOOPS, "sf": 0.1, "warm_sf": 0.001, "passes": 1},
}
RUN_TIMEOUT_S = 170

# peak_rss_mb stays in the record only: with the launcher's heap, the
# peak resident set follows the collector's heap sizing and spread by
# ~0.23 (quartile distance over median) across ten seeds
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "cpu_s": "s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """sha256 over the engine's and the harness's build inputs."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties"]
    trees = ["src/main", "perfbench/harness/src", "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties"]
    for rel in tops + trees:
        p = os.path.join(ROOT, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(f.read())
        elif os.path.isdir(p):
            h.update(gen.tree_digest(p).encode())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness once per source state and makes the
    registry tables; returns (classpath, engine JVM options, stamp)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the engine")
    stamp = source_stamp()
    for sf in (WORKLOADS["driver_loops"]["sf"], WORKLOADS["driver_loops"]["warm_sf"]):
        fixtures(sf)
    cp_file = os.path.join(BUILD, "build", f"launch-{stamp}.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            launch = json.load(f)
        return launch["classpath"], launch["java_options"], stamp
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build", "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            f"-Dsbt.global.base={BUILD}/sbt-global",
                            "-Dsbt.server.autostart=false",
                            "printEngineJavaOptions", "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    opts = [ln.split("\t")[1:] for ln in lines if ln.startswith("engine-java-options")]
    if r.returncode != 0 or "perfbench/harness/target" not in cp or len(opts) != 1:
        die(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"classpath": cp, "java_options": opts[0]}, f)
    return cp, opts[0], stamp


def fixtures(sf):
    """The registry tables at scale sf, generated once per checkout."""
    d = os.path.join(BUILD, "inputs", f"tables-f{gen.TABLE_FORMAT}-sf{sf}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, sf)
        os.rename(tmp, d)
    return d


def inputs(workload, seed, run_dir, traced):
    """Generates the seeded inputs of one run; returns (plan fields, sizes).
    A traced reference_pipeline run also gets the inputs of the layer
    probes: a corpus, and a document stream with injected re-posts."""
    w = WORKLOADS[workload]
    if workload == "driver_loops":
        exp = load_expected()[workload]
        if exp["sf"] != w["sf"] or exp["table_format"] != gen.TABLE_FORMAT:
            die(f"expected.json was taken at another scale or table format for {workload}")
        plan = {"fixtures": fixtures(w["sf"]), "warm_fixtures": fixtures(w["warm_sf"]),
                "order": gen.order(seed, w["queries"], 64), "expected": exp["digests"]}
        return plan, {"queries": len(w["queries"]), "sf": w["sf"], "warm_sf": w["warm_sf"],
                      "fixture_bytes": gen_bytes(plan["fixtures"])}
    lo, hi = w["docs"]
    plan = {"corpora": gen.corpora(os.path.join(run_dir, "corpora"), seed, w["corpora"], lo, hi),
            "warm_corpora": gen.corpora(os.path.join(run_dir, "warm"), seed + 104729,
                                        w["warm_corpora"], *w["warm_docs"])}
    sizes = {"corpora": [c["docs"] for c in plan["corpora"]],
             "corpus_bytes": gen_bytes(os.path.join(run_dir, "corpora"))}
    if traced:
        n = w["probe_docs"]
        stream = os.path.join(run_dir, "probe-stream.jsonl")
        truth = gen.stream(stream, seed, w["stream_docs"])
        plan.update(probe_corpus=gen.corpora(os.path.join(run_dir, "probe"), seed + 7919, 1,
                                             n, n)[0],
                    probe_stream=stream, probe_truth=truth, batch=w["stream_batch"])
        sizes.update(probe_docs=n, stream_docs=w["stream_docs"], stream_batch=w["stream_batch"],
                     exact_reposts=len(truth["exact"]), near_reposts=len(truth["near"]))
    return plan, sizes


def gen_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f)) for a, _, fs in os.walk(d) for f in fs)


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def git_head():
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = head[5:]
            p = os.path.join(ROOT, ".git", ref)
            if os.path.isfile(p):
                with open(p) as f:
                    return f.read().strip()
            with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
                for ln in f:
                    if ln.rstrip().endswith(" " + ref):
                        return ln.split()[0]
        return head
    except OSError:
        return "unknown"


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def jvm_opts(engine_opts, run_dir):
    """The engine launcher's JVM options, with the scratch directories
    moved inside the run directory so a run writes only in its checkout."""
    return [o for o in engine_opts if not o.startswith("-Dspark.local.dir=")] + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local"]


def java_cmd(cp, engine_opts, run_dir, main_args):
    return ["java"] + jvm_opts(engine_opts, run_dir) + ["-cp", cp, "perfbench.Main"] + main_args


def run_java(cmd, run_dir, timeout):
    """Runs the harness JVM in run_dir, its output to a log; waits for it to
    end, and kills it if the time runs out or this process is terminated."""
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    return rc, log


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def run(a):
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    cp, engine_opts, stamp = build()
    t_start = time.time()  # the time limit of a run excludes the build
    load0 = loadavg()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    try:
        t0 = time.time()
        gen_digest = gen.self_check(os.path.join(run_dir, "gen-check"), a.seed)
        plan, sizes = inputs(a.workload, a.seed, run_dir, a.trace)
        gen_s = time.time() - t0
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
        plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                    min_passes=WORKLOADS[a.workload]["passes"],
                    cores=len(os.sched_getaffinity(0)),
                    work_dir=os.path.join(run_dir, "work"),
                    out=os.path.join(run_dir, "record.json"),
                    trace_out=os.path.join(records, tag + ".spans.jsonl"))
        os.makedirs(plan["work_dir"])
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        rc, log = run_java(java_cmd(cp, engine_opts, run_dir, [plan_path]), run_dir, budget)
        if rc != 0 or not os.path.isfile(plan["out"]):
            sys.stderr.write(tail(log))
            die(f"harness failed ({rc})")
        with open(plan["out"]) as f:
            rec = json.load(f)
        rec.update(seed=a.seed, git_head=git_head(), source_stamp=stamp,
                   load_start=load0, load_end=loadavg(), input_sizes=sizes,
                   input_gen_s=gen_s, generator_self_check=gen_digest,
                   run_seconds=a.seconds, trace=a.trace,
                   jvm_options=jvm_opts(engine_opts, "<run>"))
        with open(os.path.join(records, tag + ".json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        names = per_layer_names()
        missing = [n for n in names if n not in rec["layers"]]
        if missing:
            die(f"traced run lacks layer metrics {missing}")
        metrics = {n: {"value": rec["layers"][n], "unit": u} for n, u in names.items()}
    else:
        metrics = {n: {"value": rec["metrics"][n], "unit": u} for n, u in END_TO_END.items()}
    for f in rec["failures"][:5]:
        print(f"perfbench: failed op {f}", file=sys.stderr)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def expect():
    """Re-takes expected.json from the current engine, then cross-checks it."""
    cp, engine_opts, _ = build()
    run_dir = os.path.join(BUILD, "expect")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = WORKLOADS["driver_loops"]
    fx = fixtures(spec["sf"])
    plan = {"queries": spec["queries"], "fixtures": fx, "cores": len(os.sched_getaffinity(0)),
            "dump_dir": os.path.join(run_dir, "dump"), "out": os.path.join(run_dir, "digests.json")}
    os.makedirs(plan["dump_dir"])
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    rc, log = run_java(java_cmd(cp, engine_opts, run_dir, ["expect", plan_path]), run_dir, 1800)
    if rc != 0:
        sys.stderr.write(tail(log))
        die("expect run failed")
    with open(plan["out"]) as f:
        digests = json.load(f)
    import xcheck
    checked = xcheck.check(fx, plan["dump_dir"], digests)
    out = {"driver_loops": {"sf": spec["sf"], "table_format": gen.TABLE_FORMAT,
                            "digests": digests, "duckdb_checked": checked}}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expect", action="store_true",
                    help="re-take expected.json and cross-check it against DuckDB")
    a = ap.parse_args()
    if a.expect:
        expect()
    elif a.workload:
        run(a)
    else:
        ap.error("--workload or --expect is required")


if __name__ == "__main__":
    main()
