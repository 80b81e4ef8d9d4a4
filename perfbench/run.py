#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source into `.bench_build/` (sbt, offline); later runs reuse
the build while no source changed. Workloads, metrics and the layer map
are described in perfbench/README.md.

Each run: make the seeded inputs, time the session set-up in separate
JVMs, run the workload in one JVM (a cold pass, then timed passes for
`--seconds`), check every output, and print the metrics as the last line.
`--trace 1` reports the per-layer metrics of a traced run instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
CPUS = len(os.sched_getaffinity(0))
REDUCERS = 8
SETUP_PROBES = 2
WARMUP_S = 8  # untimed passes after the cold pass; job and pass times settle by then
JVM_TIMEOUT_S = 150
WORKLOADS = ("wordcount", "queries")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# --- build -----------------------------------------------------------------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for top in roots:
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compiles the program and the harness when their sources changed and
    returns the runtime classpath."""
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "selfcheck.py"), os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            raise BenchError(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing")
    h = hashlib.sha256()
    for path in _source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = next((l for l in reversed(lines) if "classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        raise BenchError(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


# --- JVM -------------------------------------------------------------------

def java(cp, run_dir, args):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp]
    cmd[1:1] = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + ["graftbench.Harness"] + args


def run_jvm(cmd, run_dir, name, timeout=JVM_TIMEOUT_S):
    """Runs one JVM to its end; returns (start epoch seconds, stdout)."""
    err_path = os.path.join(run_dir, f"{name}.stderr")
    with open(err_path, "w") as err:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{name} JVM timed out after {timeout} s")
    if proc.returncode != 0:
        with open(err_path) as f:
            tail = f.read()[-2000:]
        raise BenchError(f"{name} JVM exited {proc.returncode}:\n{tail}")
    return t0, out


def setup_probe(cp, run_dir, local):
    """Seconds from process start until the session with GraftExtensions is
    ready, in a JVM that does nothing else."""
    t0, out = run_jvm(java(cp, run_dir, ["setup", f"cpus={CPUS}", f"local={local}"]),
                      run_dir, "setup")
    ready = next(l for l in out.splitlines() if l.startswith("READY "))
    return int(ready.split()[1]) / 1000.0 - t0


def read_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# --- workloads -------------------------------------------------------------

def load_classes():
    with open(os.path.join(HERE, "classes.json")) as f:
        return json.load(f)


def prepare(workload, seed, run_dir):
    """Makes the seeded inputs; returns (harness args, input description)."""
    if workload == "wordcount":
        text, expected, cstats = corpus.generate(seed, corpus.base_words(SF_DIR))
        path = os.path.join(run_dir, "corpus.txt")
        with open(path, "w") as f:
            f.write(text)
        return ["workload=wordcount", f"input={path}", f"reducers={REDUCERS}"], \
            {"expected": expected, **cstats}
    passes = stats.draw(load_classes()["workloads"]["queries"]["run_set"], seed, passes=100)
    path = os.path.join(run_dir, "passes.txt")
    with open(path, "w") as f:
        f.write("".join(",".join(p) + "\n" for p in passes))
    return ["workload=queries", f"sf={SF_DIR}", f"passes={path}"], {}


def check_queries(items, run_dir, out):
    """Failed items -> message: the harness's own errors, then the DuckDB
    oracle compare of tools/selfcheck.py over every query output."""
    failed = {f"{i['pass']}:{i['name']}": i["error"] for i in items if i["error"]}
    ok = [i for i in items if not i["error"]]
    if not ok:
        return failed
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"), SF_DIR, out],
                          cwd=run_dir, capture_output=True, text=True, timeout=JVM_TIMEOUT_S)
    verdict = {}
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, msg = line[5:].partition(": ")
            verdict[name] = msg
    for i in ok:
        if i["name"] not in verdict:
            failed[f"{i['pass']}:{i['name']}"] = "no oracle verdict"
        elif verdict[i["name"]] is not None:
            failed[f"{i['pass']}:{i['name']}"] = verdict[i["name"]]
    return failed


def check_wordcount(items, run_dir, out, inputs):
    failed, last = {}, max(i["pass"] for i in items)
    for i in items:
        job = i["name"]
        problems = [i["error"]] if i["error"] else []
        if not problems:
            problems += checks.check_wordcount(os.path.join(out, job), job, REDUCERS,
                                               inputs["expected"], inputs["digest"])
            with open(os.path.join(run_dir, f"{job}-log.out")) as f:
                lines = f.read().splitlines()
            problems += checks.check_event_log(lines, finish_expected=i["pass"] == last)
        if problems:
            failed[job] = "; ".join(problems)
    return failed


# --- metrics ---------------------------------------------------------------

def end_to_end(recs, setups, workload, inputs):
    passes = [r for r in recs if r["kind"] == "pass"]
    timed = [p["seconds"] for p in passes if not p["cold"] and not p["warmup"]]
    timed_idx = {p["index"] for p in passes if not p["cold"] and not p["warmup"]}
    items = [r["seconds"] for r in recs if r["kind"] == "item" and r["pass"] in timed_idx]
    end = next(r for r in recs if r["kind"] == "end")
    metrics = {
        "setup_s": (stats.median(setups), "s"),
        "wall_s": (stats.median(timed), "s"),
        "item_p50_s": (stats.median(items), "s"),
    }
    info = {"passes": len(timed), "items": len(items), "setup_samples": len(setups),
            "cold_wall_s": next(p["seconds"] for p in passes if p["cold"]),
            "peak_rss_mb": end["peak_rss_kb"] / 1024.0}
    t = stats.tail(items)
    if t:
        info.update(item_tail_s=t[0], item_tail_pct=round(t[1], 1))
    if workload == "wordcount":
        info.update(throughput_mb_s=inputs["bytes"] / 1e6 / stats.median(timed),
                    corpus_mb=inputs["bytes"] / 1e6, distinct_ratio=inputs["distinct_ratio"])
    return metrics, info


def log_name(workload, item):
    """The job name of an item's `Hw4EventLogListener` log."""
    return item["name"] if workload == "wordcount" else f"p{item['pass']}-{item['name']}"


def per_layer(recs, workload, inputs, run_dir, out, names):
    """Per-layer metrics of the traced passes: means over traced items, the
    peaks as maxima. Returns (metrics, trace document)."""
    spans = {r["id"]: r for r in recs if r["kind"] == "span"}
    counters = {r["span"]: r for r in recs if r["kind"] == "counters"}
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    dur = {i: (s["end_ns"] - s["start_ns"]) / 1e9 for i, s in spans.items()}

    def subtree(sid):
        yield sid
        for c in children.get(sid, []):
            yield from subtree(c["id"])

    def total(sid, key, agg=sum):
        vals = [counters[s][key] for s in subtree(sid) if s in counters] if sid else []
        return agg(vals) if vals else 0

    passes = [r for r in recs if r["kind"] == "pass"]
    pass_span = {s["label"]: s["id"] for s in spans.values() if s["layer"] == "pass"}
    traced = [p for p in passes if p["traced"]]
    traced_idx = {p["index"] for p in traced}
    items = [r for r in recs if r["kind"] == "item" and r["pass"] in traced_idx and not r["error"]]
    untraced = [p["seconds"] for p in passes
                if not p["traced"] and not p["cold"] and not p["warmup"]]
    rows, metrics = [], {}
    for it in items:
        sid = next(c["id"] for c in children.get(pass_span[str(it["pass"])], [])
                   if c["layer"] == "item" and c["label"] == it["name"])
        kid = {c["layer"]: c["id"] for c in children.get(sid, [])}
        build, work = kid.get("build"), kid.get("exec")
        item_s = dur[sid]
        task_s = total(sid, "task_ms") / 1000.0
        phases_s = (it.get("analysis_ms", 0) + it.get("optimization_ms", 0)
                    + it.get("planning_ms", 0)) / 1000.0
        last_end = total(work, "last_job_end_ms", max)
        log = os.path.join(run_dir, f"{log_name(workload, it)}-log.out")
        with open(log) as f:
            log = f.read().splitlines()
        row = {
            "item.s": item_s,
            "build.s": dur.get(build, 0.0),
            "build.jobs": total(build, "jobs") - total(build, "schema_jobs"),
            "build.schema_jobs": total(build, "schema_jobs"),
            "build.job_share": total(build, "job_ms") / 1000.0 / dur[build] if build else 0.0,
            # WordCountJob.run plans inside exec: its planning is the tracker's phases
            "plan.s": dur[kid["plan"]] if "plan" in kid else phases_s,
            "plan.analysis_s": it.get("analysis_ms", 0) / 1000.0,
            "plan.optimization_s": it.get("optimization_ms", 0) / 1000.0,
            "plan.planning_s": it.get("planning_ms", 0) / 1000.0,
            "plan.exchanges": it.get("exchanges", 0),
            "plan.wscg_stages": it.get("wscg_stages", 0),
            "plan.fallback_exprs": it.get("fallback_exprs", 0),
            "exec.s": dur.get(work, 0.0),
            "exec.jobs": total(work, "jobs"),
            "exec.stages": total(work, "stages"),
            "exec.tasks": total(work, "tasks"),
            "exec.commit_s": (it["exec_end_ms"] - last_end) / 1000.0 if last_end else 0.0,
            "sched.jobs": total(sid, "jobs"),
            "sched.task_s": task_s,
            "sched.cpu_s": total(sid, "cpu_ns") / 1e9,
            "sched.core_util": task_s / (item_s * CPUS) if item_s > 0 else 0.0,
            "sched.failed_tasks": total(sid, "failed_tasks"),
            "ckpt.blocks": total(sid, "blocks"),
            "ckpt.written_mb": total(sid, "block_bytes") / 1e6,
            "ckpt.peak_mb": total(sid, "peak_block_bytes", max) / 1e6,
            "shuffle.write_mb": total(sid, "shuffle_write_bytes") / 1e6,
            "shuffle.read_mb": total(sid, "shuffle_read_bytes") / 1e6,
            "shuffle.records": total(sid, "shuffle_write_records"),
            "shuffle.fetch_wait_s": total(sid, "fetch_wait_ms") / 1000.0,
            "shuffle.write_s": total(sid, "shuffle_write_ns") / 1e9,
            "shuffle.skew": total(sid, "skew", max),
            "mem.gc_s": total(sid, "gc_ms") / 1000.0,
            "mem.spill_disk_mb": total(sid, "spill_disk_bytes") / 1e6,
            "mem.peak_exec_mb": total(sid, "peak_exec_bytes", max) / 1e6,
            "stream.batches": total(sid, "batches"),
            "stream.trigger_s": total(sid, "trigger_ms") / 1000.0,
            "stream.add_batch_s": total(sid, "add_batch_ms") / 1000.0,
            "stream.wal_commit_s": total(sid, "wal_ms") / 1000.0,
            "stream.state_commit_s": total(sid, "state_commit_ms") / 1000.0,
            "stream.state_rows": total(sid, "state_rows"),
            "stream.input_rows": total(sid, "input_rows"),
            "listen.map_task_s": checks.task_ms(log, "MapTask") / 1000.0,
            "listen.reduce_task_s": checks.task_ms(log, "ReduceTask") / 1000.0,
            "listen.lines": len(log),
            "self.item_s": item_s - sum(dur[c] for c in kid.values()),
        }
        if workload == "wordcount":
            job = it["name"]
            sizes = sorted(os.path.getsize(os.path.join(out, job, f"{job}-{r}.out"))
                           for r in range(1, REDUCERS + 1))
            row.update({
                "wc.combine_ratio": row["shuffle.records"] / inputs["tokens"],
                "wc.output_skew": sizes[-1] / sizes[len(sizes) // 2] if sizes[len(sizes) // 2] else 0.0,
            })
        rows.append((it["name"], row))
    if workload == "queries":
        classes = load_classes()["workloads"]["queries"]["classes"]
        for cls, d in classes.items():
            vals = [r["build.jobs"] for n, r in rows if n in set(d["members"])] or [0]
            metrics[f"{cls}.build_jobs"] = sum(vals) / len(vals)
    peak_keys = {"ckpt.peak_mb", "mem.peak_exec_mb", "shuffle.skew", "wc.output_skew"}
    for k in {k for _, r in rows for k in r}:
        vals = [r.get(k, 0) for _, r in rows]
        metrics[k] = max(vals) if k in peak_keys else sum(vals) / len(vals)
    traced_s = [p["seconds"] for p in traced]
    wspan = next(s["id"] for s in spans.values() if s["layer"] == "workload")
    metrics["self.pass_s"] = sum(dur[pass_span[str(p["index"])]] - sum(
        dur[c["id"]] for c in children.get(pass_span[str(p["index"])], []))
        for p in traced) / max(1, len(traced))
    metrics["self.workload_s"] = (dur[wspan] - sum(dur[s] for s in pass_span.values())) / len(passes)
    metrics["trace.overhead_s"] = (stats.median(traced_s) - stats.median(untraced)
                                   if traced_s and untraced else 0.0)
    metrics["trace.items"] = len(rows)
    ready = next(r for r in recs if r["kind"] == "ready")
    metrics["session.create_s"] = ready["session_s"]
    metrics["cold.wall_s"] = next(p["seconds"] for p in passes if p["cold"])
    metrics["mem.peak_rss_mb"] = next(r for r in recs if r["kind"] == "end")["peak_rss_kb"] / 1024.0
    return {k: metrics.get(k, 0) for k in names}, {
        "metrics": metrics, "spans": list(spans.values()),
        "items": [{"name": n, **r} for n, r in rows]}


def run(workload, seed, seconds, trace):
    cp = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, d))
    local, out = os.path.join(run_dir, "local"), os.path.join(run_dir, "out")
    args, inputs = prepare(workload, seed, run_dir)
    setups = [] if trace else [setup_probe(cp, run_dir, local) for _ in range(SETUP_PROBES)]
    records = os.path.join(run_dir, "records.jsonl")
    t0, _ = run_jvm(java(cp, run_dir, ["run", f"cpus={CPUS}", f"local={local}", f"out={out}",
                                        f"records={records}", f"seconds={seconds}",
                                        f"trace={int(trace)}", f"warmup={WARMUP_S}",
                                        f"min_passes={4 if trace else 3}"] + args),
                    run_dir, "run")
    recs = read_records(records)
    ready = next(r for r in recs if r["kind"] == "ready")
    setups.append(ready["epoch_ms"] / 1000.0 - t0)
    items = [r for r in recs if r["kind"] == "item"]
    if workload == "wordcount":
        failed = check_wordcount(items, run_dir, out, inputs)
    else:
        failed = check_queries(items, run_dir, out)
    for name, msg in sorted(failed.items()):
        print(f"FAILED {name}: {msg}")
    if trace:
        metrics, trace_doc = per_layer(recs, workload, inputs, run_dir, out, units)
        with open(os.path.join(BUILD, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump(trace_doc, f)
        metrics = {k: (v, units[k]) for k, v in metrics.items()}
    else:
        metrics, info = end_to_end(recs, setups, workload, inputs)
        info["failed_frac"] = len(failed) / len(items)
        print("info " + json.dumps(info))
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    return {"correct": not failed, "attempted": len(items), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except (BenchError, OSError, subprocess.SubprocessError, KeyError, StopIteration) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
