#!/usr/bin/env python3
"""Layered benchmark for graft.

Builds graft and the benchmark harness from source, runs one workload in
a fresh JVM, checks its outputs and prints one JSON result line last:

    python3 perfbench/run.py --workload sql_surface --seed 1 --seconds 20 --trace 0

Workloads, metrics and sizing are described in perfbench/README.md.
Run from the root of a checkout; everything it writes stays under
.bench_build/ (compiled classes) and .bench_run/ (traces, scratch).
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "graft-perfbench"
RUNS = ROOT / ".bench_run"
WORKLOADS = ("sql_surface", "llm_pipeline", "store_churn")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# project's build passes to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

LAYER_SUMS = [
    "entry.construct_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "catalyst.exchanges", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
    "scheduler.task_wait_s", "executor.run_s", "executor.cpu_s",
    "executor.gc_s", "executor.deser_s", "executor.spill_bytes",
    "shuffle.read_bytes", "shuffle.write_bytes", "sources.input_bytes",
    "sources.input_rows", "cache.builds", "cache.scans"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("no Spark jars: set SPARK_HOME")
    return Path(m.group(1))


def build(jars):
    """Compile src/main/scala plus the harness with the Scala compiler
    shipped in the Spark jars; reuse the classes while sources match."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        fail("no graft sources under src/main/scala")
    srcs += sorted((HERE / "scala").glob("*.scala"))
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    key = h.hexdigest()
    classes = BUILD / "classes"
    if (BUILD / "key").is_file() and (BUILD / "key").read_text() == key:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(tmp)]
        + [str(s) for s in srcs], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    tmp.rename(classes)
    (BUILD / "key").write_text(key)
    return classes


# --------------------------------------------------------------- inputs

def duck():
    import duckdb
    return duckdb.connect()


def load_json(name):
    return json.loads((HERE / name).read_text())


def query_plan(workload, seed):
    lists = load_json("workloads.json")
    if workload == "llm_pipeline":
        return {"queries": sorted(lists["llm_pipeline"])}
    qs = sorted(lists["sql_surface"])
    rng = random.Random(seed)
    passes = []
    for _ in range(50):
        p = list(qs)
        rng.shuffle(p)
        passes.append(p)
    return {"warm": qs, "passes": passes}


def corpus(sf):
    """(doc_id, text, has_vector) for every document, in id order. A
    vector counts when it is present and not all zeros: the ANN store
    indexes exactly those."""
    con = duck()
    rows = con.execute(f"""
        SELECT d.doc_id, d.text,
               e.embedding IS NOT NULL
               AND list_max(list_transform(e.embedding, x -> abs(x))) > 0,
               coalesce(len(e.embedding), 0)
        FROM read_parquet('{sf}/documents.parquet') d
        LEFT JOIN read_parquet('{sf}/embeddings.parquet') e
          ON d.doc_id = e.vec_id
        ORDER BY d.doc_id""").fetchall()
    return [(int(i), t, bool(v), int(dim)) for i, t, v, dim in rows]


# The first round is an untimed warm-up with a small batch.
CHURN = {"init_share": 0.8, "warm_batch": 50, "rounds": 3, "takedown": [10, 60],
         "serves": [["search", "ann", "dedup"],
                    ["search", "ann", "dedup", "rag", "search"]],
         "dedup_batch": 20,
         "max_files": 2, "geometry": {"kIvf": 4, "m": 4, "subDim": 16, "nprobe": 2}}


def churn_plan(seed, docs):
    rng = random.Random(seed)
    ids = [d[0] for d in docs]
    text = {d[0]: d[1] for d in docs}
    vec = {d[0] for d in docs if d[2]}
    rng.shuffle(ids)
    n_init = int(len(ids) * CHURN["init_share"])
    init, pool = sorted(ids[:n_init]), ids[n_init:]
    live = set(init)
    warm = CHURN["warm_batch"]
    per_round = -(-(len(pool) - warm) // (CHURN["rounds"] - 1))
    cuts = [0, warm] + [warm + per_round * r for r in range(1, CHURN["rounds"])]
    rounds = []
    for r in range(CHURN["rounds"]):
        append = sorted(pool[cuts[r]:cuts[r + 1]] if r + 1 < len(cuts) else pool[cuts[r]:])
        live.update(append)
        down = sorted(rng.sample(sorted(live), CHURN["takedown"][min(r, 1)]))
        live.difference_update(down)
        live_sorted = sorted(live)
        live_vec = sorted(live & vec)
        serves = []
        for kind in CHURN["serves"][min(r, 1)]:
            terms = rng.sample(sorted(set(text[rng.choice(live_sorted)].split(" "))), 2)
            serves.append({
                "search": {"kind": "search", "terms": terms},
                "ann": {"kind": "ann", "qid": rng.choice(live_vec)},
                "dedup": {"kind": "dedup", "ids": sorted(
                    rng.sample(live_sorted, CHURN["dedup_batch"]))},
                "rag": {"kind": "rag", "terms": terms, "qid": rng.choice(live_vec)},
            }[kind])
        rng.shuffle(serves)
        rounds.append({"append": append, "takedown": down, "serves": serves,
                       "maintain": r == CHURN["rounds"] - 1,
                       "max_files": CHURN["max_files"]})
    return {"init": init, "rounds": rounds, "geometry": CHURN["geometry"]}


# ------------------------------------------------------------------ run

def run_jvm(args, workload, plan, classes, jars, trace, tag):
    """One fresh JVM over `plan`; returns (observations, launch epoch s)."""
    rundir = RUNS / f"{workload}-{args.seed}-{tag}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    scratch = rundir / "scratch"
    (scratch / "tmp").mkdir(parents=True)
    (rundir / "plan.json").write_text(json.dumps(plan))
    out, spans = rundir / "out.json", rundir / "spans.json"
    cmd = (["java", "-Xmx4g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
              "--workload", workload, "--plan", str(rundir / "plan.json"),
              "--out", str(out), "--spans", str(spans), "--sf", args.sf,
              "--scratch", str(scratch), "--cpus", str(len(os.sched_getaffinity(0))),
              "--seconds", str(args.seconds), "--trace", "1" if trace else "0"])
    launched = time.time()
    with open(rundir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=args.timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} timed out; see {rundir / 'jvm.log'}")
    if rc != 0 or not out.is_file():
        sys.stderr.write((rundir / "jvm.log").read_text()[-3000:])
        fail(f"{workload} JVM exited with {rc}")
    obs = json.loads(out.read_text())
    # isolation: every store the run built lives under the scratch dir,
    # which must delete completely
    shutil.rmtree(scratch, ignore_errors=True)
    obs["leftover"] = scratch.exists()
    keep = RUNS / "logs"
    keep.mkdir(parents=True, exist_ok=True)
    shutil.copy(rundir / "jvm.log", keep / f"{workload}-{args.seed}-{tag}.log")
    if trace:
        shutil.copy(spans, keep / f"{workload}-{args.seed}-spans.json")
    shutil.rmtree(rundir, ignore_errors=True)
    return obs, launched


# --------------------------------------------------------------- checks

def tail(values):
    """The highest whole percentile (nearest rank) with at least 10
    samples beyond it, or a tenth of the samples (at least one) when
    there are fewer than 100; returned with the percentile and the
    sample count."""
    xs = sorted(values)
    n = len(xs)
    beyond = min(10, max(1, n // 10))
    pct = (100 * (n - beyond)) // n
    rank = max(1, -(-pct * n // 100))
    return xs[rank - 1], pct, n


def check_queries(obs, expected):
    for op in obs["ops"]:
        want = expected.get(op["name"])
        if op["ok"] and want is not None and op["rows"] != want:
            op["ok"] = False
            op["err"] = f"rows {op['rows']} != oracle {want}"
        if want is None:
            op["ok"] = False
            op["err"] = "no oracle count"


def check_churn(obs, plan, docs, problems):
    dterms = {d[0]: len(set(d[1].split(" "))) for d in docs}
    vec = {d[0] for d in docs if d[2]}
    live = set(plan["init"])
    taken = set()

    def ledger(at, st):
        want = {"ann_live": len(live & vec), "search_postings":
                sum(dterms[i] for i in live)}
        got = {k: st[k] for k in want}
        if got != want or any(b != len(live) for b in st["dedup_band_docs"]):
            problems.append(f"stats at {at}: {st} vs ledger {want}, "
                            f"{len(live)} docs per band")

    ops = iter(obs["ops"])
    for r in plan["rounds"]:
        op = next(ops)
        live.update(r["append"])
        op = next(ops)
        live.difference_update(r["takedown"])
        taken.update(r["takedown"])
        for sv in r["serves"]:
            op = next(ops)
            assert op["kind"].endswith("serve." + sv["kind"])
            bad = set(op["ids"]) - live
            if op["ok"] and bad:
                op["ok"] = False
                op["err"] = (f"served ids not live: {sorted(bad)[:5]}"
                             f" (taken down: {sorted(bad & taken)[:5]})")
            if op["ok"] and sv["kind"] == "dedup" and op["rows"] != len(sv["ids"]):
                op["ok"] = False
                op["err"] = f"{op['rows']} verdicts for {len(sv['ids'])} docs"
            if op["ok"] and sv["kind"] != "dedup" and not op["ids"]:
                op["ok"] = False
                op["err"] = "empty serve"
        if r["maintain"]:
            next(ops)
    ledger("end", obs["extra"]["stats_end"])
    for store, rows in obs["extra"]["fsck"].items():
        todo = [r for r in rows if r.get("action", "none") not in ("none", "ok", "")]
        if todo:
            problems.append(f"fsck {store}: {todo}")
    return live


def user_bytes(ids, docs):
    by = {d[0]: d for d in docs}
    return sum(len(by[i][1].encode()) + (4 * by[i][3] if by[i][2] else 0) for i in ids)


# -------------------------------------------------------------- metrics

def summarise(workload, obs, launched, plan, docs):
    ops = [op for op in obs["ops"] if not op["kind"].startswith("warm.")]
    setup_s = obs["marks_ms"]["setup_end"] / 1000.0 - launched
    if workload == "sql_surface":
        passes = {}
        for op in ops:
            passes.setdefault(op["pass"], []).append(op["s"])
        total = statistics.median(sum(v) for v in passes.values())
    else:
        total = sum(op["s"] for op in ops)
    prim = [op["s"] for op in ops if op["kind"] == "query" or op["kind"].startswith("serve.")]
    t, pct, n = tail(prim)
    e2e = {"setup_s": (setup_s, "s"), "total_s": (total, "s"),
           "query_p50_s": (statistics.median(prim), "s"), "query_tail_s": (t, "s")}
    info = {"query_tail_pct": pct, "query_tail_n": n}
    kinds = {}
    for op in ops:
        kinds.setdefault(op["kind"].split(".")[0], []).append(op["s"])
    if workload == "store_churn":
        serves = kinds.get("serve", [])
        st, spct, sn = tail(serves)
        info.update({
            "append_p50_s": statistics.median(kinds["append"]),
            "takedown_p50_s": statistics.median(kinds["takedown"]),
            "serve_p50_s": statistics.median(serves), "serve_tail_s": st,
            "serve_tail_pct": spct, "serve_tail_n": sn,
            "space_amp": obs["extra"]["store_bytes"] / obs["user_bytes_live"]})
    return e2e, info


def layers(workload, obs, info, traced_total):
    ops = [op for op in obs["ops"] if not op["kind"].startswith("warm.")]
    m = {k: sum(op.get(k, 0) for op in ops) for k in LAYER_SUMS}
    m["entry.construct_s"] = sum(op["construct_s"] for op in ops)
    scans = m["cache.scans"]
    m["cache.reuse_ratio"] = (sum(op.get("cache.reused_scans", 0) for op in ops) / scans
                              if scans else 0.0)
    m["cache.peak_bytes"] = obs["cache_peak_bytes"]
    churn = workload == "store_churn"
    mut = [op for op in ops if op["kind"] in ("append", "takedown", "maintain")]
    maint = [op for op in ops if op["kind"] == "maintain"]
    written = sum(op.get("stores.bytes_written", 0) for op in (mut if churn else ops))
    m["stores.append_jobs"] = sum(op.get("scheduler.jobs", 0) for op in ops
                                  if op["kind"] == "append")
    m["stores.compactions"] = sum(op.get("compactions", 0) for op in maint)
    m["stores.compact_s"] = sum(op["s"] for op in maint if op.get("compactions", 0))
    m["stores.bytes_written"] = written
    m["stores.write_amp"] = written / obs["user_bytes_appended"] if churn else 0.0
    m["stores.files"] = obs["extra"].get("store_files", 0)
    m["stores.serve_input_bytes"] = sum(op.get("sources.input_bytes", 0) for op in ops
                                        if op["kind"].startswith("serve."))
    for k in ("append_p50_s", "takedown_p50_s", "serve_p50_s", "serve_tail_s",
              "space_amp"):
        m[f"stores.{k}"] = info.get(k, 0.0)
    m["jvm.peak_heap_mb"] = obs["jvm"]["peak_heap_mb"]
    m["jvm.gc_s"] = obs["jvm"]["gc_s"]
    m["box.wu_s"] = statistics.median(obs["box"]["wu"])
    m["box.wio_s"] = statistics.median(obs["box"]["wio"])
    # the tracer's own cost: span bookkeeping on the client thread plus
    # the listener callbacks on the bus thread
    m["trace.total_s"] = traced_total
    m["trace.overhead_s"] = obs["trace"]["bookkeeping_s"] + obs["trace"]["callbacks_s"]
    return m


UNITS = {"_s": "s", "_bytes": "B", "_mb": "MB", "_ratio": "ratio", "_amp": "ratio",
         "bytes_written": "B"}


def unit(name):
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


def measure(args, workload, classes, jars, expected, docs, trace):
    if workload == "store_churn":
        plan = churn_plan(args.seed, docs)
    else:
        plan = query_plan(workload, args.seed)
    obs, launched = run_jvm(args, workload, plan, classes, jars, trace,
                            "traced" if trace else "plain")
    problems = []
    if obs["leftover"]:
        problems.append("run scratch directory could not be removed")
    problems += [f"{c['name']}: {c['detail']}" for c in obs["checks"] if not c["ok"]]
    if workload == "store_churn":
        live = check_churn(obs, plan, docs, problems)
        obs["user_bytes_live"] = user_bytes(live, docs)
        obs["user_bytes_appended"] = user_bytes(
            [i for r in plan["rounds"][1:] for i in r["append"]], docs)
    else:
        check_queries(obs, expected)
    e2e, info = summarise(workload, obs, launched, plan, docs)
    return obs, e2e, info, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("derive",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1")))
    ap.add_argument("--timeout", type=float, default=170)
    args = ap.parse_args()
    if not Path(args.sf, "documents.parquet").is_file():
        fail(f"no sf0.1 tables at {args.sf}: set SPARK_GRAFT_SF_DIR")
    jars = spark_jars()
    classes = build(jars)
    if args.workload == "derive":
        return derive(args, classes, jars)
    churn = args.workload == "store_churn"
    expected = None if churn else load_json("expected_counts.json")["counts"]
    docs = corpus(args.sf) if churn else None

    obs, e2e, info, problems = measure(args, args.workload, classes, jars,
                                       expected, docs, trace=bool(args.trace))
    if args.trace:
        metrics = {k: (v, unit(k)) for k, v in
                   layers(args.workload, obs, info, e2e["total_s"][0]).items()}
        selfs = {k: round(v["self_s"], 4) for k, v in obs["trace"]["by_name"].items()}
        print("self_s " + json.dumps(selfs, sort_keys=True))
    else:
        metrics = e2e
    all_ops = obs["ops"]
    failed_ops = [op for op in all_ops if not op["ok"]]
    for op in failed_ops[:10]:
        print(f"FAILED {op['kind']} {op['name']}: {op['err']}")
    for p in problems:
        print(f"CHECK FAILED {p}")
    attempted = len(all_ops)
    failed = len(failed_ops)
    shown = {**{k: round(v, 4) if isinstance(v, float) else v for k, v in info.items()},
             "fail_ratio": failed / attempted}
    print("info " + json.dumps(shown, sort_keys=True))
    print(json.dumps({
        "correct": not failed_ops and not problems,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def derive(args, classes, jars):
    """One traced sorted pass over every query; splits the inventory
    into sql_surface (no cache frame, no store) and llm_pipeline."""
    obs, _ = run_jvm(args, "derive", {}, classes, jars, True, "derive")
    (RUNS / "derive-ops.json").write_text(json.dumps(obs["ops"], indent=1))
    sql, llm = [], []
    for op in obs["ops"]:
        uses = op["persisted"] or op["stores"] or op.get("cache.scans", 0)
        (llm if uses else sql).append(op["name"])
    lists = load_json("workloads.json")
    lists["derived"] = {"sql_surface": sql, "llm_pipeline": llm}
    (HERE / "workloads.json").write_text(json.dumps(lists, indent=1) + "\n")
    print(json.dumps({op["name"]: [round(op["s"], 3), op["rows"]] for op in obs["ops"]}))


if __name__ == "__main__":
    main()
