#!/usr/bin/env python3
"""Loader drain and query-sample benchmark.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt,
offline), makes the workload's inputs from the seed, runs the harness
JVM on `local[nproc]`, checks the outputs apart from the program, and
prints as its last stdout line one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
traced). The line before it is the run header. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "benchmark.stamp")
WORK_BASE = os.path.join(HERE, ".work")
OUT_BASE = os.path.join(HERE, ".out")
DEADLINE_S = 160  # for the harness JVM, counted after the build

# Input make-up per workload (README "Inputs").
WORKLOADS = {
    "loader_enriched": {"records": 4320, "file_bytes": 500_000, "warmups": 3, "rounds": 3},
    "loader_partitioned": {"records": 14500, "file_bytes": 1_000_000, "warmups": 3, "rounds": 3},
    "query_sample": {"warmups": 1, "rounds": 2},
}

END_TO_END = {
    "records_per_s": "1/s", "batch_p50_ms": "ms", "output_mb": "MB", "cpu_s": "s",
    "sweep_s": "s", "query_p50_ms": "ms", "peak_rss_mb": "MB", "setup_s": "s",
}

PER_LAYER = {
    "source.lines_ms": "ms", "source.latest_offset_ms": "ms", "source.get_batch_ms": "ms",
    "pipeline.batches": "count", "pipeline.planning_ms": "ms", "pipeline.log_commit_ms": "ms",
    "emitter.add_batch_ms": "ms", "emitter.jobs_per_batch": "count",
    "emitter.passes_per_batch": "count", "emitter.seq_range_ms": "ms",
    "emitter.earliest_ms": "ms", "emitter.bad_count_ms": "ms", "emitter.bad_rows": "count",
    "emitter.write_ms": "ms", "emitter.write_tasks": "count", "emitter.write_core_util": "ratio",
    "rowtypes.per_batch": "count", "codec.out_in_ratio": "ratio",
    "commit.objects_per_batch": "count", "commit.fs_ops": "count", "commit.fs_ms": "ms",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.persist_mb": "MB",
    "query.construct_ms": "ms", "query.analysis_ms": "ms", "query.optimization_ms": "ms",
    "query.planning_ms": "ms", "query.exec_ms": "ms", "query.jobs": "count",
    "query.tasks": "count", "query.shuffle_mb": "MB", "query.spill_mb": "MB",
    "query.gc_ms": "ms",
    "stream.batches": "count", "stream.add_batch_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def log(msg):
    print(f"[benchmark] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# -- build ---------------------------------------------------------------

def spark_home():
    """The Spark distribution whose jars the program is built and run
    with: $SPARK_HOME, else the one `spark-submit` on PATH belongs to,
    else the one whose jars the root build names in `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home and os.path.exists(os.path.join(ROOT, "build.sbt")):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        home = os.path.dirname(m.group(1).rstrip("/")) if m else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_signature():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build(spark):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    sig = source_signature()
    if os.path.exists(STAMP) and open(STAMP).read() == sig:
        return sig
    log("building the program and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    # No sbt server and no JVM perf-data file: the build leaves nothing
    # running and writes no more outside the checkout than sbt must.
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    os.makedirs(OUT_BASE, exist_ok=True)
    with open(os.path.join(OUT_BASE, "build.log"), "w") as logf:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                                cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=700).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0:
        fail(f"build failed; see {os.path.join(OUT_BASE, 'build.log')}")
    with open(STAMP, "w") as f:
        f.write(sig)
    return sig


# -- run header ------------------------------------------------------------

def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -- metrics -----------------------------------------------------------

def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def committed_bytes(out):
    return sum(os.path.getsize(os.path.join(out, rel)) for rel in checks.objects(out))


def loader_metrics(body, header):
    timed = body["timed"]
    ok = [d for d in timed if not d["error"]]
    records = sum(b["count"] for d in ok for b in d["batches"])
    wall = sum(d["wall_s"] for d in ok)
    drain_s = median([d["wall_s"] for d in ok])
    return {
        "records_per_s": records / wall if wall else 0.0,
        "batch_p50_ms": median([ms for d in ok for ms in d["batch_ms"]]),
        "output_mb": median([committed_bytes(os.path.join(d["dir"], "out")) / 1e6 for d in ok]),
        "cpu_s": median([d["cpu_s"] for d in ok]),
        "sweep_s": drain_s,
        "query_p50_ms": drain_s * 1000.0,
        "peak_rss_mb": header["peak_rss_mb"],
        "setup_s": median(body["setup_rounds_s"]),
    }


def sample_metrics(body, header, rows, result_mb):
    passes = body["timed"]
    names = [q["name"] for q in passes[0]["queries"]]
    per_query = {n: median([q["wall_s"] for p in passes for q in p["queries"]
                            if q["name"] == n and not q["error"]]) for n in names}
    sweep = sum(per_query.values())
    return {
        "records_per_s": rows / sweep if sweep else 0.0,
        "batch_p50_ms": median([ms for p in passes for q in p["queries"] for ms in q["batch_ms"]]),
        "output_mb": result_mb,
        "cpu_s": median([sum(q["cpu_s"] for q in p["queries"]) for p in passes]),
        "sweep_s": sweep,
        "query_p50_ms": median(list(per_query.values())) * 1000.0,
        "peak_rss_mb": header["peak_rss_mb"],
        # The one set-up pass runs every query for the first time: its
        # staging, planning and code generation cold. Each is a set-up.
        "setup_s": median([q["wall_s"] for q in body["setup"][0]["queries"]]),
    }


def row_type(out, path):
    """The partition an object's name carries; an unparsed name (the
    layout check reports it) counts as a row type of its own."""
    rel = os.path.relpath(path, out)
    m = checks.NAME.match(rel)
    return m.group("part") if m else rel


def layer_metrics(body, workload, facts):
    """Median over timed rounds of each per-layer figure (a query-sample
    round is one pass: its queries' figures are summed first). For the
    loaders, `rowtypes.per_batch` and `codec.out_in_ratio` are read here
    from the committed objects."""
    rounds = []
    for r in body["timed"]:
        if workload == "query_sample":
            acc = {}
            for q in r["queries"]:
                for k, v in (q["layers"] or {}).items():
                    acc[k] = acc.get(k, 0) + v
            rounds.append(acc)
        elif r["layers"]:
            out = os.path.join(r["dir"], "out")
            parts = sum(len({row_type(out, f) for f in b["files"]}) for b in r["batches"])
            rounds.append(dict(r["layers"], **{
                "rowtypes.per_batch": parts / max(1, r["layers"]["pipeline.batches"]),
                "codec.out_in_ratio": committed_bytes(out) / facts["bytes"],
            }))
    return {k: median([r[k] for r in rounds if k in r]) for k in PER_LAYER}


# -- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark threads (default: nproc); 1 gives the single-threaded baseline")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    load_start = loadavg()
    spark = spark_home()
    sig = build(spark)
    started = time.monotonic()
    spec = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_BASE, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT_BASE, exist_ok=True)
    result_file = os.path.join(OUT_BASE, run_id + ".json")

    t0 = time.monotonic()
    facts = {}
    input_dir = os.path.join(work, "input")
    if args.workload == "loader_enriched":
        facts = gen.enriched(input_dir, args.seed, spec["records"], spec["file_bytes"])
    elif args.workload == "loader_partitioned":
        facts = gen.self_describing(input_dir, args.seed, spec["records"], spec["file_bytes"])
    gen_s = time.monotonic() - t0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))

    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.join(BUILD_DIR, "scala-2.13", "classes") + os.pathsep +
            os.path.join(spark, "jars", "*"),
            "bench.Main", "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--warmups", str(spec["warmups"]),
            "--rounds", str(spec["rounds"]),
            "--trace", str(args.trace), "--out", result_file,
            "--input", input_dir, "--sf", sf_dir])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_HOME=spark)
    budget = DEADLINE_S - (time.monotonic() - started)
    with open(os.path.join(OUT_BASE, run_id + ".log"), "w") as logf:
        proc = subprocess.Popen(cmd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the {DEADLINE_S}s budget")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"harness failed (exit {rc}); see {os.path.join(OUT_BASE, run_id + '.log')}")
    with open(result_file) as f:
        res = json.load(f)
    header, body = res["header"], res["body"]

    # Output checks, after the timing.
    fails = []
    if args.workload == "query_sample":
        results = os.path.join(work, "results")
        names = [q["name"] for q in body["setup"][0]["queries"]]
        fails += checks.check_queries(sf_dir, results, names)
        rows = checks.result_rows(results, names)
        result_mb = sum(os.path.getsize(os.path.join(d, f)) for n in names
                        for d, _, fs in os.walk(os.path.join(results, n)) for f in fs
                        if f.endswith(".parquet")) / 1e6
        attempted = sum(len(p["queries"]) for p in body["timed"])
        failed = sum(1 for p in body["timed"] for q in p["queries"] if q["error"])
        failed_ops = [f"{q['name']}: {q['error']}" for p in body["setup"] + body["timed"]
                      for q in p["queries"] if q["error"]]
        metrics = sample_metrics(body, header, rows, result_mb)
    else:
        drains = body["setup"] + body["timed"]
        for d in drains:
            fails += checks.check_drain_layout(d["dir"], args.workload)
            if not d["error"]:
                fails += checks.check_drain_meta(d, facts, args.workload)
        fails += checks.check_drain_content(body["timed"][-1]["dir"], input_dir, args.workload)
        attempted = sum(max(1, len(d["batches"])) for d in body["timed"])
        failed = sum(1 for d in body["timed"] if d["error"])
        failed_ops = [f"round {d['round']}: {d['error']}" for d in drains if d["error"]]
        metrics = loader_metrics(body, header)
    for msg in failed_ops + fails:
        log(msg)

    header.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "spark_graft_cpus": cpus,
        "git_sha": git_sha(), "source_sha1": sig,
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "work_fs": fs_type(os.path.realpath(work)), "gen_s": round(gen_s, 3),
        "setup_rounds_s": body["setup_rounds_s"],
        "timed_rounds": len(body["timed"]), "inputs": facts,
        "end_to_end": metrics,
    })
    print(json.dumps({"header": header}))
    if args.trace:
        layers = layer_metrics(body, args.workload, facts)
        out = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    if args.keep:
        with open(os.path.join(work, "facts.json"), "w") as f:
            json.dump(facts, f)
    else:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
