#!/usr/bin/env python3
"""Classifies every query once and writes perfbench/classes.json.

    python3 perfbench/classify.py

Runs each query of `SparkEntry.queries` once, traced, at sf0.1, and
records the Spark jobs and micro-batches its construction launches, the
checkpoint MB, state rows and interpreted expressions it makes, and its
errors; times its DuckDB oracle; times it once more in a warmed JVM; and
picks the `queries` workload's run set from that. The benchmark reads the
frozen result: re-run this only to redefine the workload, never to follow
a change of the program, so that a change that removes a checkpoint does
not move a query from one class to another.
"""
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402

ORACLE_LIMIT_S = 2.0   # the oracle compare runs on every run
ITEM_LIMIT_S = 5.0     # one query must leave room for a few passes in a run
# the run set: per class, a query with the property that class is for
RUN_SET = (
    ("onepass", lambda q: q["fallback_exprs"] == 0),   # planning and scheduling
    ("onepass", lambda q: q["fallback_exprs"] > 0),    # interpreted expressions
    ("multiround", lambda q: q["ckpt_mb"] >= 1.0),     # checkpoints in construction
    ("streaming", lambda q: q["state_rows"] > 0),      # the state store
)
WARMUP_QUERIES = 8     # queries of the warm-up pass before the timed runs


def sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def oracle_seconds(sqls, known):
    """DuckDB seconds per oracle; `known` maps an oracle's sha to an earlier
    measurement of the same SQL, which is reused."""
    import duckdb
    con = duckdb.connect()
    for p in os.listdir(bench.SF_DIR):
        if p.endswith(".parquet"):
            con.sql(f"CREATE VIEW {p[:-8]} AS SELECT * FROM '{bench.SF_DIR}/{p}'")
    out = {}
    for name, sql in sorted(sqls.items()):
        if sha(sql) in known:
            out[name] = known[sha(sql)]
            continue
        timer = threading.Timer(3 * ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            con.sql(sql).df()
            out[name] = time.time() - t0
        except Exception:  # interrupted past the limit, or an SQL error
            out[name] = None
        timer.cancel()
    return out


def main():
    cp = bench.build()
    run_dir = os.path.join(bench.BUILD, "classify")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    names = subprocess.run(bench.java(cp, run_dir, ["list"]), capture_output=True, text=True,
                           check=True).stdout.split()
    with open(os.path.join(run_dir, "passes.txt"), "w") as f:
        f.write(",".join(names) + "\n")
    records = os.path.join(run_dir, "records.jsonl")
    bench.run_jvm(bench.java(cp, run_dir, [
        "run", f"cpus={bench.CPUS}", f"local={run_dir}/local", f"out={run_dir}/out",
        f"records={records}", "workload=queries", f"sf={bench.SF_DIR}",
        f"passes={run_dir}/passes.txt", "classify=1"]), run_dir, "classify", timeout=3600)
    recs = bench.read_records(records)
    spans = {r["id"]: r for r in recs if r["kind"] == "span"}
    counters = {r["span"]: r for r in recs if r["kind"] == "counters"}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)

    def subtree_sum(sid, key):
        return counters.get(sid, {}).get(key, 0) + sum(
            subtree_sum(c["id"], key) for c in kids.get(sid, []))

    items = {r["name"]: r for r in recs if r["kind"] == "item"}
    item_span = {s["label"]: s["id"] for s in spans.values() if s["layer"] == "item"}
    with open(os.path.join(run_dir, "out", "oracle_sql.json")) as f:
        sqls = json.load(f)
    classes_path = os.path.join(bench.HERE, "classes.json")
    known = {}
    if os.path.exists(classes_path):
        with open(classes_path) as f:
            known = {q["oracle_sha"]: q["oracle_s"] for q in json.load(f)["queries"].values()
                     if q.get("oracle_sha") and q["oracle_s"] is not None}
    oracle = oracle_seconds(sqls, known)
    queries = {}
    for name in names:
        it = items[name]
        sid = item_span.get(name)
        build = next((c["id"] for c in kids.get(sid, []) if c["layer"] == "build"), None)
        queries[name] = {
            "seconds": round(it["seconds"], 3),
            "ckpt_mb": round(subtree_sum(sid, "block_bytes") / 1e6, 3) if sid else None,
            "state_rows": subtree_sum(sid, "state_rows") if sid else None,
            "fallback_exprs": it.get("fallback_exprs"),
            "build_jobs": (subtree_sum(build, "jobs") - subtree_sum(build, "schema_jobs")
                           if build else None),
            "batches": subtree_sum(build, "batches") if build else None,
            "oracle_s": round(oracle[name], 3) if oracle.get(name) is not None else None,
            "oracle_sha": sha(sqls[name]) if name in sqls else None,
            "error": it["error"],
        }

    ref = warm_seconds(cp, run_dir, [n for n in names if queries[n]["error"] is None])
    for name, secs in ref.items():
        queries[name]["warm_s"] = round(secs, 3)
    doc = {"sf": os.path.basename(bench.SF_DIR), "cpus": bench.CPUS,
           "rules": {"oracle_limit_s": ORACLE_LIMIT_S, "item_limit_s": ITEM_LIMIT_S,
                     "run_set": "per class, nearest the first quartile of warm cost"},
           "workloads": workloads(queries), "queries": queries}
    with open(classes_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    for cls, d in doc["workloads"]["queries"]["classes"].items():
        print(cls, len(d["members"]), "usable", d["usable"])


def warm_seconds(cp, run_dir, names):
    """Seconds of each query's first run in a JVM that other queries have
    warmed, as in a benchmark run: a warm-up pass, then every query once."""
    order = random.Random(0).sample(names, len(names))
    passes = [order[:WARMUP_QUERIES]] + [order[i:i + WARMUP_QUERIES]
                                          for i in range(0, len(order), WARMUP_QUERIES)]
    with open(os.path.join(run_dir, "warm.txt"), "w") as f:
        f.write("".join(",".join(p) + "\n" for p in passes))
    records = os.path.join(run_dir, "warm.jsonl")
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    bench.run_jvm(bench.java(cp, run_dir, [
        "run", f"cpus={bench.CPUS}", f"local={run_dir}/local", f"out={run_dir}/out",
        f"records={records}", "workload=queries", f"sf={bench.SF_DIR}",
        f"passes={run_dir}/warm.txt", "seconds=1e9"]), run_dir, "warm", timeout=3600)
    return {r["name"]: r["seconds"] for r in bench.read_records(records)
            if r["kind"] == "item" and r["pass"] > 0}


def workloads(queries):
    """The frozen query workload. The x queries are of class `streaming`
    (their construction runs micro-batches). Any other query is of class
    `multiround` when its construction launched a Spark job other than a
    parquet schema read, else of class `onepass`.

    The run set takes, for each entry of RUN_SET, the usable query of that
    class with that property whose warm cost is nearest the class's first
    quartile, so that every layer the workload is for does work in every
    run and a pass stays short. The set is fixed: drawing queries per seed,
    even one of three queries of equal warm cost, moved `wall_s` by 14 %
    between seeds, more than any bound allows."""
    classes, usable = {}, {}
    for cls in ("onepass", "multiround", "streaming"):
        members = sorted(n for n, q in queries.items() if q["error"] is None and (
            n.startswith("x") if cls == "streaming" else
            not n.startswith("x") and bool(q["build_jobs"]) == (cls == "multiround")))
        usable[cls] = [n for n in members
                       if queries[n]["oracle_s"] is not None
                       and queries[n]["oracle_s"] <= ORACLE_LIMIT_S
                       and queries[n]["warm_s"] <= ITEM_LIMIT_S]
        classes[cls] = {"members": members, "usable": len(usable[cls]),
                        "excluded": sorted(set(members) - set(usable[cls]))}
    run_set = []
    for cls, prop in RUN_SET:
        q1 = statistics.quantiles([queries[n]["warm_s"] for n in usable[cls]], n=4)[0]
        run_set.append(min((n for n in usable[cls] if prop(queries[n])),
                           key=lambda n: (abs(queries[n]["warm_s"] - q1), n)))
    return {"queries": {"classes": classes, "run_set": run_set}}


if __name__ == "__main__":
    main()
