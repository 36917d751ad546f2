"""Metric arithmetic and output checks for the benchmark.

Pure functions over the harness's result.json and the generator's truth,
kept apart from run.py so the tests can drive them directly.
"""
import json
import os
import re
import statistics
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_CHECK = os.path.join(ROOT, "tools", "oracle_check.py")


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples, beyond). With n samples sorted
    ascending this is the one at index n-11, so exactly ten are larger in
    rank. Below eleven samples no percentile has ten beyond it; the rule
    then degrades to the smallest sample, and ``beyond`` says how many
    samples the figure really has behind it.
    """
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    i = max(0, len(v) - 11)
    return v[i], 100.0 * (i + 1) / len(v), len(v), len(v) - 1 - i


def op_median_sum(passes, key):
    """One pass's cost, op by op: the sum over the pass's operations of
    each operation's median ``key`` across ``passes``.

    Every pass runs the same operations, so this estimates one pass. A
    burst of load from outside the process slows the few ops it overlaps,
    in one pass; the per-op median drops those samples, where the median
    of whole-pass walls would keep every pass such a burst touched.
    """
    by_op = {}
    for p in passes:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o[key])
    return sum(statistics.median(v) for v in by_op.values())


def end_to_end(result, workload, inputs):
    """End-to-end metrics from the untraced passes of one run.

    ``inputs`` carries ``records`` and ``bytes``: the input records one pass
    loads (etl_refresh) and the input bytes one pass reads.
    """
    passes = [p for p in result["passes"] if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    t_value, t_pct, t_n, t_beyond = tail([o["total_s"] for o in ops])
    wall = op_median_sum(passes, "total_s")
    if workload == "etl_refresh":
        rows = inputs["records"]
    else:
        rows = sum(max(o["rows"], 0) for o in passes[0]["ops"])
    metrics = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "cpu_s": (op_median_sum(passes, "cpu_s"), "s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
        "write_amp": (op_median_sum(passes, "wchar") / inputs["bytes"],
                      "ratio"),
    }
    # Op latencies are reported beside the metrics, not among them: the
    # ops of a pass differ in cost more than tenfold, so the median and
    # the tail rule land where the sorted latencies jump from one cluster
    # of specs to the next, and under load they spread nearly as far as
    # the largest bound allows.
    notes = {"op_p50_s": statistics.median(o["total_s"] for o in ops),
             "op_tail_s": t_value, "op_tail_percentile": round(t_pct, 1),
             "op_tail_samples": t_n, "op_tail_beyond": t_beyond,
             "passes": len(passes),
             "pass_wall_s": [p["wall_s"] for p in passes]}
    return metrics, notes


def per_layer(result, layer_names):
    """Per-layer metrics: medians over the traced passes, plus the box probe
    and the tracing overhead against the untraced passes of the same run."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    out = {}
    for name, unit in layer_names:
        vals = [p["layers"].get(name) for p in traced]
        vals = [v for v in vals if v is not None]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    out["box.probe_ms"] = (max(result["probe_ms"]), "ms")
    out["trace.overhead_frac"] = (
        op_median_sum(traced, "total_s") /
        op_median_sum(plain, "total_s") - 1.0, "ratio")
    return {k: out[k] for k, _ in layer_names}


def self_times(spans):
    """Seconds of self time per span name: a span's duration minus the
    part its children cover. Children of one span never overlap here, so
    that part is the sum of their durations."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (
            s["end_ms"] - s["start_ms"])
    out = {}
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e3
    return out


# ---- output checks ----------------------------------------------------------

_LINE = re.compile(r"^(PASS|FAIL|SKIP) ([A-Za-z0-9_]+)\b(.*)$")


def oracle_compare(fixture_dir, check_dir):
    """Run the repo's DuckDB oracle compare over the check pass's outputs.

    Returns ({spec: ("PASS"|"FAIL"|"SKIP", rows or None)}, its report)."""
    proc = subprocess.run(
        [sys.executable, ORACLE_CHECK, fixture_dir, check_dir],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=150)
    out = {}
    for line in proc.stdout.splitlines():
        m = _LINE.match(line)
        if not m:
            continue
        verdict, name, rest = m.groups()
        rows = re.search(r"\((?:rows=)?(\d+)(?: rows)?\)", rest)
        out[name] = (verdict, int(rows.group(1)) if rows else None)
    return out, proc.stdout


def check_registry(fixture_dir, check_dir, check_facts, ops, expected_rows):
    """Count timed ops whose output is wrong.

    A spec's output is right when its check-pass result matches the DuckDB
    oracle cell for cell, or, for a spec without an oracle, has the row
    count that ``expected_rows[spec]`` (DuckDB SQL) gives. A timed op is
    wrong when its spec's output is wrong or its count() differs from the
    checked row count. Failed ops are counted by the caller, not here.
    Returns (wrong ops, the specs they ran, the oracle compare's report).
    """
    verdicts, report = oracle_compare(fixture_dir, check_dir)
    errors = {f["name"] for f in check_facts if f["error"]}
    want = {}
    bad = set(errors)
    con = None
    for name in {o["name"] for o in ops}:
        verdict, rows = verdicts.get(name, ("MISSING", None))
        if verdict == "SKIP" and name in expected_rows:
            if con is None:
                con = duckdb.connect()
                for t in os.listdir(fixture_dir):
                    if t.endswith(".parquet"):
                        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                    f"'{os.path.join(fixture_dir, t)}'")
            exp = con.execute(expected_rows[name]).fetchone()[0]
            verdict = "PASS" if exp == rows else "FAIL"
        if verdict != "PASS":
            bad.add(name)
        want[name] = rows
    wrong = [o["name"] for o in ops if o["error"] is None and (
        o["name"] in bad or o["rows"] != want.get(o["name"]))]
    return len(wrong), sorted(set(wrong)), report


def _key_rows(rows):
    return sorted((json.dumps(r) for r in rows))


def check_etl(truth, cycles):
    """Count wrong ops over the timed refresh cycles.

    Each cycle's ops are usersEtl, postsEtl, commentsEtl and
    warehouseQueries. A load op is wrong when a LoadReport it returned is
    not ok or its row count differs from the truth; warehouseQueries is
    wrong when any of its three results differs from the truth. An op that
    threw has no output here; the caller counts it as failed."""
    wrong = []
    owner = {"addresses": "usersEtl", "companies": "usersEtl",
             "users": "usersEtl", "posts": "postsEtl",
             "comments": "commentsEtl"}
    for i, cyc in enumerate(cycles):
        bad = set()
        for r in cyc["reports"]:
            if not r["ok"] or r["rows"] != truth["rows"][r["table"]]:
                bad.add(owner[r["table"]])
        q = cyc["queries"]
        if q is not None and any(
                _key_rows(q[k]) != _key_rows(truth[k])
                for k in ("top_commenters", "comments_per_post",
                          "longest_comments")):
            bad.add("warehouseQueries")
        wrong += [f"cycle{i}:{op}" for op in sorted(bad)]
    return len(wrong), wrong
