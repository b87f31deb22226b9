"""Output checks, computed apart from the program under test.

Loader outputs are read with Python's own gzip reader and compared with
what the generator wrote; query results are compared with each query's
oracle SQL run in DuckDB over the same tables. Every check returns a
list of failure strings, each starting with the check's name, so a
corrupted output can be traced to the check that caught it.
"""
import collections
import datetime as dt
import gzip
import json
import math
import os
import re

import gen

NOW_NAME = "2026-03-02-000000"  # the harness's fixed `now`, as object names carry it
PREFIX = "bench"
NAME = re.compile(r"^" + PREFIX + r"-(?:(?P<part>.+)-)?(?P<ts>\d{4}-\d{2}-\d{2}-\d{6})"
                  r"-(?P<first>[^-/]+)-(?P<last>[^-/]+)\.gz$")


def input_lines(input_dir):
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), "rb") as f:
            for line in f:
                yield line.rstrip(b"\n")


def objects(out_root):
    """Relative paths of the committed objects (everything but _staging)."""
    found = []
    for dirpath, dirnames, filenames in os.walk(out_root):
        dirnames[:] = [d for d in dirnames if d != "_staging"]
        # Hadoop's local file system keeps a hidden `.name.crc` checksum
        # beside each file; it is not an object.
        for fn in filenames:
            if not (fn.startswith(".") and fn.endswith(".crc")):
                found.append(os.path.relpath(os.path.join(dirpath, fn), out_root))
    return sorted(found)


def object_lines(path):
    with gzip.open(path, "rb") as f:
        return f.read().split(b"\n")[:-1]


def check_drain_layout(drain_dir, workload):
    """Checks every drain gets: nothing staged, no dead letters, names."""
    fails = []
    out = os.path.join(drain_dir, "out")
    staging = os.path.join(out, "_staging")
    if os.path.exists(staging) and any(os.scandir(staging)):
        fails.append(f"staging: {staging} is not empty")
    bad = os.path.join(drain_dir, "bad")
    if os.path.exists(bad) and any(True for _, _, fs in os.walk(bad) for _ in fs):
        fails.append(f"dead_letter: {bad} holds files")
    objs = objects(out)
    if not objs:
        fails.append(f"names: no object under {out}")
    for rel in objs:
        m = NAME.match(rel)
        if not m or m.group("ts") != NOW_NAME:
            fails.append(f"names: {rel} does not parse as "
                         f"[prefix-][partition-]yyyy-MM-dd-HHmmss-first-last.gz")
        elif workload == "loader_enriched" and m.group("part"):
            fails.append(f"names: {rel} carries a partition; enriched output has one row type")
    return fails


def check_drain_meta(drain, facts, workload):
    """Σ observedMeta.count and the minimum earliestTstamp of one drain."""
    fails = []
    total = sum(m["count"] for m in drain["meta"])
    if total != facts["records"]:
        fails.append(f"meta_count: Σ observedMeta.count = {total}, input has {facts['records']}")
    committed = sum(b["count"] for b in drain["batches"])
    if committed != facts["records"]:
        fails.append(f"meta_count: Σ batch counts = {committed}, input has {facts['records']}")
    if workload == "loader_enriched":
        seen = [dt.datetime.fromisoformat(m["earliest"].replace("Z", "+00:00"))
                for m in drain["meta"] if m["earliest"]]
        want = dt.datetime.fromisoformat(facts["min_tstamp"])
        if not seen or min(seen) != want:
            fails.append(f"earliest: min earliestTstamp {min(seen) if seen else None} != "
                         f"generator's minimum valid collector tstamp {want}")
    return fails


def check_drain_content(drain_dir, input_dir, workload):
    """The multiset of committed lines equals the input; each object's
    seq range holds its lines; each object's partition is its lines'."""
    fails = []
    out = os.path.join(drain_dir, "out")
    got = collections.Counter()
    for rel in objects(out):
        lines = object_lines(os.path.join(out, rel))
        got.update(lines)
        m = NAME.match(rel)
        if not m:
            continue  # reported by the layout check
        if workload == "loader_enriched":
            first, last = m.group("first"), m.group("last")
            seqs = [l.split(b"\t")[gen.SEQ_IDX].decode() for l in lines]
            outside = [s for s in seqs if not (len(s) == len(first) == len(last) and first <= s <= last)]
            if outside:
                fails.append(f"seq_range: {rel} holds {len(outside)} records outside "
                             f"[{first}, {last}], e.g. {outside[0]}")
        else:
            part = m.group("part") or "unpartitioned"
            wrong = [l for l in lines if gen.partition_of(l.decode()) != part]
            if wrong:
                fails.append(f"partition: {rel} holds {len(wrong)} lines of another "
                             f"partition, e.g. {wrong[0][:80]!r}")
    want = collections.Counter(input_lines(input_dir))
    if got != want:
        missing = sum((want - got).values())
        extra = sum((got - want).values())
        fails.append(f"lines: committed lines differ from the input: "
                     f"{missing} missing, {extra} extra")
    return fails


# -- query_sample ------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _equal(a, b):
    import pandas as pd
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def check_queries(sf_dir, results_dir, names):
    """Each result equals its oracle SQL run in DuckDB, with columns
    sorted by name and rows by every column, as tools/check.py does."""
    import duckdb
    import pandas as pd
    fails = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    for name in names:
        if name not in oracle:
            fails.append(f"oracle: {name} has no oracle SQL")
            continue
        try:
            got = _canon(pd.read_parquet(os.path.join(results_dir, name)))
        except Exception as e:  # noqa: BLE001 - any unreadable result fails the check
            fails.append(f"oracle: {name} result unreadable: {e}")
            continue
        want = _canon(con.execute(oracle[name]).fetchdf())
        if list(got.columns) != list(want.columns):
            fails.append(f"oracle: {name} columns {list(got.columns)} != {list(want.columns)}")
            continue
        if len(got) != len(want):
            fails.append(f"oracle: {name} rows {len(got)} != {len(want)}")
            continue
        bad = next(((c, i, x, y) for c in got.columns
                    for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                    if not _equal(x, y)), None)
        if bad:
            c, i, x, y = bad
            fails.append(f"oracle: {name} col {c} row {i}: spark={x!r} oracle={y!r}")
            continue
        kinds = [c for c, g, w in zip(got.columns, got.dtypes, want.dtypes) if {g.kind, w.kind} == {"i", "f"}]
        if kinds:
            fails.append(f"oracle: {name} int-vs-float columns {kinds}")
    con.close()
    return fails


def result_rows(results_dir, names):
    import pyarrow.parquet as pq
    return sum(pq.ParquetDataset(os.path.join(results_dir, n)).read().num_rows for n in names)
