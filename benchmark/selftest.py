#!/usr/bin/env python3
"""Shows that every output check fails on a deliberately corrupted output.

    python3 benchmark/selftest.py

For each workload it makes one short kept run (`run.py --keep`), checks
that its real output passes, then copies the output, corrupts the copy
in one way per check, and asserts that exactly that check reports a
failure. Prints one line per corruption and exits non-zero if any
corruption went unnoticed.
"""
import copy
import gzip
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

SEED = 7


def kept_run(workload):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", "0", "--keep"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: run failed\n{p.stderr[-3000:]}")
    with open(os.path.join(HERE, ".out", f"{workload}-s{SEED}-t0.json")) as f:
        res = json.load(f)
    return res["body"], os.path.join(HERE, ".work", f"{workload}-s{SEED}-t0")


def rewrite_object(path, edit):
    with gzip.open(path, "rb") as f:
        lines = f.read().split(b"\n")[:-1]
    lines = edit(lines)
    with gzip.open(path, "wb") as f:
        f.write(b"".join(l + b"\n" for l in lines))


def loader_cases(workload, body, work):
    drain = body["timed"][-1]
    src = drain["dir"]
    input_dir = os.path.join(work, "input")
    with open(os.path.join(work, "facts.json")) as f:
        facts = json.load(f)

    def all_checks(d, dr):
        return (checks.check_drain_layout(d, workload) + checks.check_drain_meta(dr, facts, workload)
                + checks.check_drain_content(d, input_dir, workload))

    def fresh():
        d = os.path.join(work, "corrupt")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(src, d)
        return d, copy.deepcopy(drain)

    def objs(d):
        return [os.path.join(d, "out", r) for r in checks.objects(os.path.join(d, "out"))]

    cases = []

    def case(name, expect):
        def deco(f):
            cases.append((name, expect, f))
            return f
        return deco

    @case("drop one committed line", "lines")
    def _(d, dr):
        rewrite_object(objs(d)[0], lambda ls: ls[1:])

    @case("leave a file under _staging", "staging")
    def _(d, dr):
        os.makedirs(os.path.join(d, "out", "_staging", "batch=99"))
        open(os.path.join(d, "out", "_staging", "batch=99", "part-0"), "w").close()

    @case("write a dead letter", "dead_letter")
    def _(d, dr):
        os.makedirs(os.path.join(d, "bad"), exist_ok=True)
        open(os.path.join(d, "bad", "part-0.txt"), "w").write("{}\n")

    @case("rename an object off the naming scheme", "names")
    def _(d, dr):
        o = objs(d)[0]
        os.rename(o, os.path.join(os.path.dirname(o), "bench-2026-03-02.gz"))

    @case("undercount observedMeta", "meta_count")
    def _(d, dr):
        dr["meta"][0]["count"] -= 1

    if workload == "loader_enriched":
        @case("narrow an object's seq range", "seq_range")
        def _(d, dr):
            o = objs(d)[0]
            m = checks.NAME.match(os.path.relpath(o, os.path.join(d, "out")))
            os.rename(o, os.path.join(os.path.dirname(o),
                                      f"bench-{m.group('ts')}-{m.group('first')}-{m.group('first')}.gz"))

        @case("shift the earliest tstamp", "earliest")
        def _(d, dr):
            for m in dr["meta"]:
                if m["earliest"]:
                    m["earliest"] = "2026-03-02T00:00:00Z"  # after every generated tstamp
    else:
        @case("move a line into another partition's object", "partition")
        def _(d, dr):
            a, b = [o for o in objs(d) if checks.NAME.match(
                os.path.relpath(o, os.path.join(d, "out"))).group("part")][:2]
            moved = []
            rewrite_object(a, lambda ls: (moved.append(ls[0]), ls[1:])[1])
            rewrite_object(b, lambda ls: ls + moved)

    ok = all_checks(src, drain)
    results = [("uncorrupted output", "", ok)]
    for name, expect, corrupt in cases:
        d, dr = fresh()
        corrupt(d, dr)
        results.append((name, expect, all_checks(d, dr)))
    shutil.rmtree(os.path.join(work, "corrupt"), ignore_errors=True)
    return results


def query_cases(body, work):
    results_dir = os.path.join(work, "results")
    names = [q["name"] for q in body["setup"][0]["queries"]]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    out = [("uncorrupted output", "", checks.check_queries(sf, results_dir, names))]
    import pandas as pd
    victim = names[-1]
    path = os.path.join(results_dir, victim)
    df = pd.read_parquet(path)
    col = next(c for c in df.columns if df[c].dtype.kind in "if")
    df.loc[0, col] = df.loc[0, col] + 1
    shutil.rmtree(path)
    os.makedirs(path)
    df.to_parquet(os.path.join(path, "part-0.parquet"))
    out.append((f"change one value of {victim}", "oracle",
                checks.check_queries(sf, results_dir, names)))
    return out


def main():
    bad = 0
    for w in ("loader_enriched", "loader_partitioned", "query_sample"):
        body, work = kept_run(w)
        results = query_cases(body, work) if w == "query_sample" else loader_cases(w, body, work)
        for name, expect, fails in results:
            caught = sorted({f.split(":")[0] for f in fails})
            good = (caught == [expect]) if expect else not fails
            bad += not good
            print(f"{'ok  ' if good else 'FAIL'} {w}: {name}: checks failing {caught or 'none'}")
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
