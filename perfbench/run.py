#!/usr/bin/env python3
"""The repository benchmark: run one workload, check its outputs, print its
metrics.

    python3 perfbench/run.py --workload driver-floor --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and generates the base tables; later runs reuse
both while their sources are unchanged. One JVM runs the workload (see
Harness.scala); this script then checks the outputs against their DuckDB
oracles and prints, as its last stdout line, one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it is the full record: header, every metric with its unit, and the
op-tail percentile with its sample count. See README.md for the metric
and workload definitions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

SF = 0.01
HEAP = "3g"
SETUPS = 5
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

DRIVER_FLOOR = [
    "q00_mr_word_count", "q04_join_inner", "q05_join_multiway",
    "q10_agg_tpch_q1", "q13_window_ranking", "q185_tpch_q3"]

# Why each workload exists: README.md. `pass_s` is the warm pass time on a
# 4-core host; a run makes --seconds / pass_s warm passes, so every run
# measures the same work however fast the host is at the moment.
WORKLOADS = {
    "driver-floor": dict(kind="queries", queries=DRIVER_FLOOR, pass_s=4.0, tables=[
        "customer", "documents", "lineitem", "nation", "orders", "region"]),
    "ingest-rebuild": dict(kind="ingest", batches=2, pass_s=14.0,
                           tables=["documents", "embeddings"]),
}

END_TO_END = ["setup_s", "cold_pass_s", "wall_s", "op_p50_s", "op_tail_s",
              "mem_peak_mb"]
LAYER_UNITS = {
    "sources.load_ms": "ms", "sources.load_jobs": "count",
    "queries.construct_ms": "ms", "queries.construct_jobs": "count",
    "queries.action_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.opt_ms": "ms", "catalyst.plan_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.job_active_ms": "ms", "driver.only_ms": "ms",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.util": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.input_mb": "MB", "exec.output_mb": "MB",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "operators.ckpt.release_ms": "ms", "operators.ckpt.storage_mb": "MB",
    "streaming.neardup_batch_ms": "ms", "streaming.text_batch_ms": "ms",
    "streaming.budget_batch_ms": "ms", "streaming.compact_ms": "ms",
    "streaming.commit_jobs": "count",
    "pipeline.run_ms": "ms", "pipeline.stages_executed": "count",
    "self.construct_ms": "ms", "self.action_ms": "ms",
    "trace.wall_traced_s": "s", "trace.reconcile_pct": "%",
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src/main"]
    missing = [s for s in sources if not os.path.exists(os.path.join(ROOT, s))]
    if missing:
        raise SystemExit(f"[perfbench] not a repository checkout: missing {missing}")
    stamp = tree_hash(sources)
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got_stamp, cp = f.read().split("\n", 1)
        if got_stamp == stamp:
            return cp.strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = [l for l in out.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")][-1]
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def base_data(work_root):
    """The base tables, generated once per generator version and scale."""
    key = tree_hash(["perfbench/gen.py"])[:16]
    out = os.path.join(work_root, f"data-sf{SF}-{key}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        log(f"generating base tables at sf{SF}")
        gen.base_tables(out, SF)
        open(os.path.join(out, "_done"), "w").close()
    return out


def write_plan(path, items):
    with open(path, "w") as f:
        for k, v in items:
            f.write(f"{k}={v}\n")


def run_harness(cp, plan_path, work, cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           # a fixed heap, so heap resizing does not vary between runs; no
           # hsperfdata file in the system temp dir, so the run stays in its checkout
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Harness", plan_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] harness timed out")
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {rc}")


def output_checks(run, data_dir):
    """The harness's own check verdicts, plus each dumped output compared
    with its DuckDB oracle using the canonicalization of dev/compare.py; an
    output without an oracle must have rows."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    from compare import canon
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    checks = list(run.checks)
    for d in run.dumps:
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{d['path']}/*.parquet')").fetchdf()
            if not d["sql"]:
                ok, why = len(got) > 0, "no rows"
            else:
                want = con.execute(d["sql"]).fetchdf()
                got, want = got[sorted(got.columns)], want[sorted(want.columns)]
                g = [tuple(canon(v) for v in r) for r in got.itertuples(index=False)]
                w = [tuple(canon(v) for v in r) for r in want.itertuples(index=False)]
                if not d["ordered"]:
                    g, w = sorted(g), sorted(w)
                ok = list(got.columns) == list(want.columns) and g == w
                why = f"{len(g)} rows differ from the oracle's {len(w)}"
        except Exception as e:  # an unreadable dump or a failing oracle fails the check
            ok, why = False, str(e)[:300]
        checks.append({"name": d["name"], "ok": ok, "err": "" if ok else why})
    return checks


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    cp = build()
    work_root = os.path.join(HERE, "work")
    data = base_data(work_root)
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    warm_passes = max(1, round(args.seconds / wl["pass_s"]))
    try:
        plan = [("events", os.path.join(work, "events.jsonl")), ("work", work),
                ("data", data), ("passes", warm_passes), ("trace", args.trace),
                ("setups", SETUPS), ("kind", wl["kind"]),
                ("tables", ",".join(wl["tables"]))]
        if wl["kind"] == "queries":
            plan.append(("queries", ",".join(wl["queries"])))
            orders = gen.pass_orders(wl["queries"], args.seed, 1 + warm_passes)
            for p, order in enumerate(orders):
                plan.append((f"order.{p}", ",".join(order)))
        else:
            batchdir = os.path.join(work, "batches")
            gen.write_batches(os.path.join(data, "documents.parquet"), batchdir,
                              args.seed, wl["batches"])
            plan += [("batches", wl["batches"]), ("batchdir", batchdir)]
        plan_path = os.path.join(work, "plan.txt")
        write_plan(plan_path, plan)
        run_harness(cp, plan_path, work, cpus)

        with open(os.path.join(work, "events.jsonl")) as f:
            run = stats.Run([json.loads(l) for l in f])
        checks = output_checks(run, data)
        e2e, attempted, failed, info = run.end_to_end(checks)
        layers = run.per_layer() if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    h = run.header
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": h["cpus"], "sf": SF,
        "protocol": "closed loop, 1 client thread, local[cpus]; cold pass then "
                    "--seconds / pass_s warm passes; medians over warm passes",
        "spark": h["spark"], "jdk": h["jdk"], "driver_heap_mb": h["heap_mb"],
        **info,
        "checks_passed": sorted(c["name"] for c in checks if c["ok"]),
        "failed_checks": [c for c in checks if not c["ok"]],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "layers": {k: {"value": layers[k], "unit": LAYER_UNITS[k]} for k in sorted(layers)},
    }
    print(json.dumps({"record": record}))
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"[perfbench] non-finite metrics: {bad}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    log(f"done in {time.time() - t0:.1f}s")
    sys.exit(rc)
