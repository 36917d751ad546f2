#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 22 \
        --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/ (sbt, offline); later runs reuse the
build while the sources are unchanged. Inputs are generated from --seed.
One untimed pass warms the engine and produces the outputs that are
checked; after more untimed warm-up, the timed passes follow: as many as
take --seconds on an unloaded 4-core box (see pass_count). With --trace 0
the last stdout line carries the end-to-end metrics, with --trace 1 the
per-layer ones. Artifacts of the run land in .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "workloads.json")))

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("write_amp", "ratio"),
]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.sched_delay_s", "s"), ("exec.shuffle_fetch_wait_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.busy_frac", "ratio"),
    ("exec.driver_s", "s"), ("exec.stage_skew", "ratio"),
    ("exec.task_failures", "count"),
    ("ops.similarity.task_s", "s"), ("ops.dedup.task_s", "s"),
    ("ops.text.task_s", "s"), ("ops.graph.task_s", "s"),
    ("ops.graph.jobs", "count"),
    ("staging.pinned_mb_peak", "MB"), ("staging.persisted_rdds", "count"),
    ("staging.leaked_rdds", "count"),
    ("ingest.parse_s", "s"), ("ingest.parse_tasks", "count"),
    ("ingest.stage_write_s", "s"), ("ingest.load_write_s", "s"),
    ("pipelines.validate_s", "s"),
    ("etl.users_s", "s"), ("etl.posts_s", "s"), ("etl.comments_s", "s"),
    ("etl.queries_s", "s"), ("etl.files_written", "count"),
    ("table.syscr", "count"), ("table.rchar_mb", "MB"),
    ("table.wchar_mb", "MB"),
    ("stream.batches", "count"), ("stream.latest_offset_s", "s"),
    ("stream.query_planning_s", "s"), ("stream.wal_commit_s", "s"),
    ("stream.add_batch_s", "s"), ("stream.commit_offsets_s", "s"),
    ("stream.trigger_s", "s"), ("stream.state_rows", "count"),
    ("stream.state_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
    ("box.probe_ms", "ms"), ("trace.overhead_frac", "ratio"),
]

SCALE = 0.02       # registry fixture scale factor (lineitem 120k rows)
SETUPS = 3         # set-ups per run; setup_s is their median
HEAP = "3g"
HARNESS_S = 150    # a run must end within 180 s, checks included

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        opts = ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
                f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        fail(f"build failed (see {log})", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def prepare(workload, seed, run_dir):
    """Generate the run's inputs; return (plan fields, inputs for metrics)."""
    w = SPEC["workloads"][workload]
    if w["kind"] == "etl":
        etl_dir = os.path.join(run_dir, "etl")
        payload_bytes = gen.write_etl(seed, w["users"], etl_dir)
        setup_wh = os.path.join(etl_dir, "setup_warehouse")
        gen.write_warehouse(seed, 20, setup_wh)
        truth = json.load(open(os.path.join(etl_dir, "truth.json")))
        plan = {"etl": {n: os.path.join(etl_dir, f"{n}.json")
                        for n in ("users", "posts", "comments")},
                "orders": [w["specs"]]}
        plan["etl"]["setup_warehouse"] = setup_wh
        inputs = {"records": truth["records"], "bytes": payload_bytes,
                  "truth": truth}
    else:
        fixture = os.path.join(run_dir, "fixture")
        gen.write_fixture(seed, SCALE, fixture)
        # The same rotations of the spec list on every seed: orders
        # shuffled by seed would make which spec follows which differ
        # between seeds, which moves wall_s by a few percent on one data
        # set.
        specs = w["specs"]
        orders = [specs[k:] + specs[:k] for k in
                  (3 * i % len(specs) for i in range(8))]
        plan = {"fixture": fixture, "orders": orders,
                "setup_spec": "ref_a_top_commenter"}
        inputs = {"records": 0, "bytes": sum(
            os.path.getsize(os.path.join(fixture, f))
            for f in os.listdir(fixture))}
    plan.update(kind=w["kind"], warmup_rounds=w.get("warmup_rounds", 0),
                warmup_passes=w["warmup_passes"])
    return plan, inputs


def pass_count(workload, seconds):
    """Timed passes of a run: as many as take ``seconds`` on an unloaded
    4-core box, at least 3. --seconds fixes the work of a run, not a
    deadline, so a loaded run times the same passes, only slower."""
    return max(3, round(seconds / SPEC["workloads"][workload]["pass_s"]))


def run_harness(cp, plan, run_dir, deadline):
    work = plan["work"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "perfbench.Harness", plan_path, result_path]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out (see {log})", 4)
    if code != 0 or not os.path.exists(result_path):
        tail = open(log).read().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {code} (see {log})", 4)
    return json.load(open(result_path))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft",
                              "SparkEntry.scala"), measure.ORACLE_CHECK):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} missing: run from the root "
                 "of a full checkout")
    cp = build()

    run_dir = os.path.join(
        BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan, inputs = prepare(args.workload, args.seed, run_dir)
    cores = len(os.sched_getaffinity(0))
    plan.update(workload=args.workload, seed=args.seed,
                passes=pass_count(args.workload, args.seconds),
                trace=bool(args.trace), cores=cores, setups=SETUPS,
                work=os.path.join(run_dir, "work"))
    result = run_harness(cp, plan, run_dir, time.monotonic() + HARNESS_S)

    timed = [o for p in result["passes"] for o in p["ops"]]
    failed = sum(1 for o in timed if o["error"] is not None)
    if plan["kind"] == "etl":
        cycles = [c for p in result["passes"] for c in p["cycles"]]
        wrong, which = measure.check_etl(inputs["truth"], cycles)
    else:
        wrong, which, report = measure.check_registry(
            plan["fixture"], os.path.join(plan["work"], "check"),
            result["check"], timed, SPEC["expected_rows"])
        with open(os.path.join(run_dir, "oracle_check.txt"), "w") as f:
            f.write(report)

    known = {n for n, _ in PER_LAYER}
    for p in result["passes"]:
        stray = set(p["layers"] or {}) - known
        if stray:
            fail(f"harness reported unknown layer metrics {sorted(stray)}")
    e2e, notes = measure.end_to_end(result, args.workload, inputs)
    if args.trace:
        metrics = measure.per_layer(result, PER_LAYER)
    else:
        metrics = {n: e2e[n] for n, _ in END_TO_END}

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "attempted": len(timed), "failed": failed,
        "failed_frac": failed / len(timed), "wrong_outputs": wrong,
        "wrong": which, "probe_ms": result["probe_ms"],
        "setup_samples_s": result["setup_s"], "phase_s": result["phase_s"],
        **notes,
        "metrics": {k: v[0] for k, v in metrics.items()},
        "errors": sorted({f"{o['name']}: {o['error']}" for o in timed
                          if o["error"]}),
    }
    if args.trace:
        summary["self_time_s"] = measure.self_times(result["spans"])
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(result["spans"], f)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    # Inputs and engine scratch are large; the artifacts above are not.
    for d in ("fixture", "etl", "work"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"wrong_outputs = {wrong} count; failed_frac = "
          f"{summary['failed_frac']:.6g} ratio ({failed}/{len(timed)} ops)")
    print(f"op_p50_s = {notes['op_p50_s']:.6g} s; "
          f"op_tail_s = {notes['op_tail_s']:.6g} s, the p"
          f"{notes['op_tail_percentile']} of {notes['op_tail_samples']} ops "
          f"({notes['op_tail_beyond']} beyond); box probe "
          f"{result['probe_ms'][0]:.1f}/{result['probe_ms'][1]:.1f} ms at "
          "start/end")
    for e in summary["errors"][:5]:
        print(f"error: {e}")
    print(json.dumps({
        "correct": wrong == 0 and failed == 0, "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
