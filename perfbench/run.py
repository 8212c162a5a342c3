#!/usr/bin/env python3
"""Repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (build.py, once per source tree), generates the
workload's inputs from the seed, runs the benchmark JVM (set-up, warm-up,
whole passes of the workload as many as --seconds asks for; with --trace 1 a
traced pass and an untraced reference pass), checks every output, and prints
the metrics. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Workload
definitions, the layer map and the recorded constants live in spec.json.
The latest raw JVM result per workload stays in
.bench_build/last-result-<workload>.json, traces in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
from build import BUILD, ROOT, build, fail  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# --- inputs and plan -------------------------------------------------------------

def make_inputs(workload, seed, work, rng):
    """Generate the workload's inputs from the seed; returns the plan fields,
    the input description and the expectations the checks use."""
    w = SPEC["workloads"][workload]
    inputs = os.path.join(work, "inputs")
    warm = os.path.join(inputs, "warmup")
    if workload.startswith("catalog_"):
        # the corpus is the fixed sf0.1 corpus; the seed draws the query order
        # after the panel's first query, which always runs first so that the
        # first-operation cold cost lands on the same query in every run
        corpus = os.path.join(inputs, "corpus")
        rows = gen.corpus(SPEC["corpus_seed"], corpus)
        lead, rest = w["queries"][0], list(w["queries"][1:])
        orders = []
        for _ in range(16):
            rng.shuffle(rest)
            orders.append([lead] + rest)
        plan = {"inputs": corpus, "orders": orders}
        return plan, {"rows": sum(rows.values()), "tables": rows}, {}
    if workload == "etl_refresh":
        kinds = w["cycle_scales"]
        expected = gen.etl(seed, inputs, sorted(set(kinds)))
        cycles = [f"x{k}" for k in kinds]
        rng.shuffle(cycles)
        plan = {"cycles": [os.path.join(inputs, c) for c in cycles],
                "warmup_cycles": [os.path.join(inputs, f"x{min(kinds)}")]}
        return plan, {"records_per_pass": sum(expected[c]["records"] for c in cycles),
                      "cycles": cycles}, expected
    if workload == "stream_dedup":
        docs = os.path.join(inputs, "docs")
        planted = gen.stream(seed, docs, w["files"])
        gen.stream(seed, warm, w["files"], n_docs=w["warmup_docs"])
        plan = {"inputs": docs, "warmup_inputs": warm, "documents": planted["docs"]}
        return plan, {"rows": planted["docs"], "files": w["files"]}, planted
    fail(f"unknown workload {workload!r}")


# --- checks ------------------------------------------------------------------

def check_catalog(result, work, inputs):
    """Compare each query's result with its DuckDB oracle, as tools/check.py
    does; rows-only queries must produce rows with a stable schema."""
    import duckdb
    chk = result["check"]
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad = {}
    schemas = {}
    ops = [o for p in result["passes"] for o in p["ops"]]
    names = sorted({o["name"] for o in ops} - {o["name"] for o in ops if o.get("error")})
    for name in names:
        out = os.path.join(chk["outputs"], name)
        files = sorted(os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet"))
        # part files in partition order: their concatenation is the row order
        mine = con.sql(f"SELECT * FROM read_parquet({files!r})")
        schemas[name] = [(c, str(t)) for c, t in zip(mine.columns, mine.types)]
        sql = chk["oracle_sql"].get(name)
        if sql is None:
            if mine.shape[0] == 0:
                bad[name] = "rows-only query returned no rows"
            continue
        try:
            ref = con.sql(sql)
        except Exception as e:  # noqa: BLE001 - report the oracle's own error
            bad[name] = f"oracle SQL error: {str(e).splitlines()[0][:200]}"
            continue
        mc, rc = sorted(mine.columns), sorted(ref.columns)
        if mc != rc:
            bad[name] = f"columns differ: {mc} vs {rc}"
            continue
        a, b = mine.df()[mc], ref.df()[rc]
        if a.shape != b.shape:
            bad[name] = f"shape {a.shape} vs oracle {b.shape}"
            continue
        for c in mc:
            hit = next(((i, x, y) for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist()))
                        if not same(x, y)), None)
            if hit:
                bad[name] = f"value mismatch in {c} at row {hit[0]}: {hit[1]!r} vs {hit[2]!r}"[:300]
                break
    return bad, {"schemas": schemas}


def same(x, y):
    if x == y or (x is None and y is None):
        return True
    if type(x) is type(y) and str(x) == str(y):
        return True
    return isinstance(x, float) and isinstance(y, float) and x != x and y != y


def check_etl(result, expected):
    chk = result["check"]
    bad = {}
    for c in chk["cycles"]:
        want = expected[os.path.basename(c["fixture"])]["rows"]
        if c["status"] != "Success" or c["rows"] != want:
            bad[f"cycle:{c['run_id']}"] = f"{c['status']}: rows {c['rows']} != planted {want}"
    n = len(chk["cycles"])
    if not (chk["etl_runs_rows"] == chk["etl_runs_distinct_ids"] == chk["etl_runs_success"] == n):
        bad["etl_runs"] = (f"{chk['etl_runs_rows']} rows / {chk['etl_runs_distinct_ids']} ids "
                           f"/ {chk['etl_runs_success']} Success for {n} cycles")
    return bad, {}


def check_stream(result, planted, digest):
    chk = result["check"]
    bad = {}
    survivors = set(chk["survivor_ids"])
    if len(survivors) != chk["survivor_rows"]:
        bad["survivors"] = "a document survived twice"
    missed = sorted(set(planted["exact"]) & survivors)
    if missed:
        bad["exact_dups"] = f"{len(missed)} planted exact duplicates survived: {missed[:5]}"
    if not survivors <= set(range(planted["docs"])):
        bad["survivors"] = "unknown document ids in the output"
    dropped = planted["docs"] - len(survivors)
    if not chk["passes_identical"]:
        bad["determinism"] = "passes of one run kept different survivor sets"
    # same inputs (same seed) must give the same survivors in every run
    kept = hashlib.sha256(json.dumps(sorted(survivors)).encode()).hexdigest()
    memo = os.path.join(BUILD, "stream-survivors", digest)
    if os.path.exists(memo) and open(memo).read() != kept:
        bad["determinism"] = "survivor set differs from an earlier run on identical inputs"
    os.makedirs(os.path.dirname(memo), exist_ok=True)
    with open(memo, "w") as f:
        f.write(kept)
    return bad, {"survivors": len(survivors), "dropped": dropped,
                 "planted_exact": len(planted["exact"]), "planted_near": len(planted["near"]),
                 "near_dropped": len(set(planted["near"]) - survivors)}


# --- metrics -----------------------------------------------------------------

def pct(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, jars = build()
    w = SPEC["workloads"][a.workload]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rng = random.Random(f"{a.workload}:{a.seed}")
        plan, described, expected = make_inputs(a.workload, a.seed, work, rng)
        digest = gen.digest(os.path.join(work, "inputs"))
        known = SPEC["input_digests"].get(a.workload, {}).get(str(a.seed))
        if known and known != digest:
            fail(f"inputs for seed {a.seed} are not byte-identical to the recorded digest")
        env = SPEC["environment"]
        cores = env["cores"]
        plan.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                     "trace": bool(a.trace), "work": work, "cores": cores,
                     "setup_repeats": env["setup_repeats"],
                     "nominal_pass_s": w["nominal_pass_s"]})
        plan_path = os.path.join(work, "plan.json")
        json.dump(plan, open(plan_path, "w"))
        result_path = os.path.join(work, "result.json")
        # a fixed, pre-touched heap keeps peak RSS from tracking GC timing
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{env['driver_heap']}",
                f"-Xmx{env['driver_heap']}", "-XX:+AlwaysPreTouch", "-Xss8m",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
               + [x for p in env["add_opens"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                  "perfbench.Main", plan_path, result_path])
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                   timeout=env["jvm_timeout_s"])
            except subprocess.TimeoutExpired:
                fail("benchmark JVM timed out")
        if r.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(jvm_log).read()[-6000:])
            fail(f"benchmark JVM exited with {r.returncode}")
        result = json.load(open(result_path))
        shutil.copy(result_path, os.path.join(BUILD, f"last-result-{a.workload}.json"))

        if a.workload.startswith("catalog_"):
            bad, info = check_catalog(result, work, plan["inputs"])
        elif a.workload == "etl_refresh":
            bad, info = check_etl(result, expected)
        else:
            bad, info = check_stream(result, expected, digest)
        report(a, w, result, described, digest, bad, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, w, result, described, digest, bad, info):
    passes = result["passes"]
    ops = [o for p in passes for o in p["ops"]]
    errors = {o["name"]: o["error"] for o in ops if o.get("error")}
    lat = [o["seconds"] for o in ops]
    setup = statistics.median(s["total_s"] for s in result["setup"])
    wall = statistics.median(p["wall_s"] for p in passes)
    records = described.get("records_per_pass", described.get("rows"))
    attempted = len(ops)
    # each failed output check counts as one failed operation
    failed = min(attempted, sum(1 for o in ops if o.get("error")) + len(bad))
    e2e = {
        "setup_s": setup,
        "wall_s": wall,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": pct(lat, 0.9),
        "rows_per_s": records / wall,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    summary = {"workload": a.workload, "seed": a.seed, "passes": len(passes),
               "operations": attempted, "op_p90_samples_beyond": attempted - math.ceil(0.9 * attempted),
               "failed_frac": failed / attempted, "input_digest": digest,
               "input": described, "failures": {**errors, **bad}, "check": info}
    print("[perfbench] " + json.dumps(summary, default=str)[:4000])
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    for k, v in list(e2e.items()) + [("failed_frac", failed / attempted)]:
        print(f"[perfbench] {a.workload} {k} = {v:.6g} {units.get(k, 'ratio')}")
    if a.trace:
        metrics = layer_metrics(result)
        trace_out = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        json.dump({"summary": summary, "metrics": metrics, "trace": result["trace"]},
                  open(trace_out, "w"), indent=1, default=str)
        print(f"[perfbench] trace and per-operation ledger: {os.path.relpath(trace_out, ROOT)}")
        for row in result["trace"]["ledger"]:
            print("[perfbench] ledger " + json.dumps(row))
        names = [m["name"] for m in BENCH["per_layer"]]
    else:
        metrics, names = e2e, [m["name"] for m in BENCH["end_to_end"]]
    out = {"correct": not bad and not errors, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in names}}
    print(json.dumps(out))


def layer_metrics(result):
    tr = result["trace"]
    setup = result["setup"]
    m = dict(tr["metrics"])
    m["session.build_s"] = statistics.median(s["build_s"] for s in setup)
    m["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setup)
    m["trace.overhead_frac"] = tr["wall_s"] / tr["untraced_wall_s"] - 1
    return m


if __name__ == "__main__":
    main()
