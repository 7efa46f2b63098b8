"""Turns the raw samples the JVM side writes into the benchmark's metrics.

Timings of a layer are medians over statements; counters are means per
statement, so a run that completes more statements does not read as more
work per statement.
"""

import math


def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty sample,
    the same rule as statistics.quantiles(..., method="inclusive")."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def _selects(recs):
    return [r for r in recs if not r["insert"]]


def _inserts(recs):
    return [r for r in recs if r["insert"]]


def end_to_end(raw):
    """End-to-end metrics of an untraced run (its first phase)."""
    phase = raw["phases"][0]
    recs = phase["records"]
    lat = [r["wall_ms"] for r in _selects(recs) if r["ok"]]
    done = sum(1 for r in recs if r["ok"])
    return {
        "setup_s": median(raw["setup_s"]),
        "select_p50_ms": median(lat),
        "select_p90_ms": percentile(lat, 90) if lat else 0.0,
        "stmts_per_s": done / phase["elapsed_s"],
        "bytes_per_user_byte": raw["warehouse_bytes"] / max(raw["user_bytes"], 1),
        "live_heap_mb": raw["live_heap_mb"],
    }


def _cells(rec, phase=None, site=None):
    return [c for c in rec["cells"]
            if (phase is None or c["phase"] == phase) and (site is None or c["site"] == site)]


def _sum(cells, key):
    return sum(c[key] for c in cells)


def _build_jobs_ms(rec):
    return _sum(_cells(rec, "build"), "job_ms")


def _build_self_ms(rec):
    """Build time less the parse inside it (estimated by the separate parse
    of the same text) and the Spark jobs it waited for, as Spark's listener
    timed them. Not clipped: a negative value shows that those two
    estimates overshoot."""
    return rec["build_ms"] - rec["parser_ms"] - _build_jobs_ms(rec)


def _unaccounted_ms(rec):
    """Statement wall time outside the separately timed build, catalyst and
    exec intervals (parser + build self + build jobs is the build interval)."""
    return rec["wall_ms"] - rec["build_ms"] - rec["catalyst_ms"] - rec["exec_ms"]


def per_layer(raw):
    """Per-layer metrics of a traced run: its second phase holds the traced
    statements, its first the untraced blocks in between (the
    tracing-overhead baseline)."""
    plain, traced = raw["phases"][0], raw["phases"][1]
    recs = [r for r in traced["records"] if r["ok"]]
    sel, ins = _selects(recs), _inserts(recs)

    def per_select(fn):
        return mean([fn(r) for r in sel])

    exec_in = sum(_sum(_cells(r, "exec"), "input_rows") for r in sel)
    exec_out = sum(r["rows_out"] for r in sel)
    insert_ms = [r["wall_ms"] for r in ins]
    plain_lat = [r["wall_ms"] for r in _selects(plain["records"]) if r["ok"]]
    traced_lat = [r["wall_ms"] for r in sel]
    all_recs = sel + ins
    return {
        "parser.ms": median([r["parser_ms"] for r in sel]),
        "build.ms": median([r["build_ms"] for r in sel]),
        "build.self_ms": median([_build_self_ms(r) for r in sel]),
        "build.jobs": per_select(lambda r: _sum(_cells(r, "build"), "jobs")),
        "build.job_ms": per_select(_build_jobs_ms),
        "stats.jobs": mean([_sum(_cells(r, site="stats"), "jobs") for r in all_recs]),
        "stats.job_ms": mean([_sum(_cells(r, site="stats"), "job_ms") for r in all_recs]),
        "catalyst.plan_ms": median([r["catalyst_ms"] for r in sel]),
        "lowering.jobs": per_select(lambda r: _sum(_cells(r, site="lowering"), "jobs")),
        "lowering.job_ms": per_select(lambda r: _sum(_cells(r, site="lowering"), "job_ms")),
        "exec.ms": median([r["exec_ms"] for r in sel]),
        "exec.jobs": per_select(lambda r: _sum(_cells(r, "exec"), "jobs")),
        "exec.stages": per_select(lambda r: _sum(_cells(r, "exec"), "stages")),
        "exec.tasks": per_select(lambda r: _sum(_cells(r, "exec"), "tasks")),
        "exec.task_run_ms": per_select(lambda r: _sum(_cells(r, "exec"), "task_run_ms")),
        "exec.shuffle_write_bytes": per_select(lambda r: _sum(_cells(r, "exec"), "shuffle_write")),
        "exec.shuffle_read_bytes": per_select(lambda r: _sum(_cells(r, "exec"), "shuffle_read")),
        "exec.spill_bytes": per_select(lambda r: _sum(_cells(r, "exec"), "spill")),
        "exec.input_rows": per_select(lambda r: _sum(_cells(r, "exec"), "input_rows")),
        "exec.output_rows": per_select(lambda r: r["rows_out"]),
        "exec.input_rows_per_output_row": exec_in / max(exec_out, 1),
        "write.insert_ms": median(insert_ms),
        "write.insert_p90_ms": percentile(insert_ms, 90) if insert_ms else 0.0,
        "write.rows_per_s": (sum(r["insert_rows"] for r in ins) / (sum(insert_ms) / 1000.0)
                             if insert_ms else 0.0),
        "write.jobs": mean([_sum(_cells(r, "insert"), "jobs") for r in ins]),
        "write.files_written": mean([r["files"] for r in ins]),
        "write.bytes_written": mean([r["bytes"] for r in ins]),
        "jvm.gc_ms": traced["gc_ms"] / max(len(traced["records"]), 1),
        "trace.stmt_ms": median(traced_lat),
        "trace.unaccounted_ms": median([_unaccounted_ms(r) for r in sel]),
        "trace.overhead_ms": (median(traced_lat) - median(plain_lat)
                              if traced_lat and plain_lat else 0.0),
    }


def layer_self_ms(raw):
    """Self time of each layer summed over the traced SELECTs, and the
    statement wall time it should add up to; build jobs are split by the
    file that submitted them."""
    recs = [r for r in _selects(raw["phases"][1]["records"]) if r["ok"]]
    out = {"parser": 0.0, "build.self": 0.0, "catalyst": 0.0, "exec": 0.0}
    for r in recs:
        out["parser"] += r["parser_ms"]
        out["build.self"] += _build_self_ms(r)
        for c in _cells(r, "build"):
            key = "build.jobs." + c["site"]
            out[key] = out.get(key, 0.0) + c["job_ms"]
        out["catalyst"] += r["catalyst_ms"]
        out["exec"] += r["exec_ms"]
    wall = sum(r["wall_ms"] for r in recs)
    out["unaccounted"] = wall - sum(out.values())
    out["stmt_wall"] = wall
    return {k: round(x, 3) for k, x in out.items()}


def check_names(values, declared):
    """Problems with computed metric values ({name: value}) against the
    declared metrics of BENCHMARK.json: every declared metric present with
    a finite value, nothing undeclared."""
    names = [m["name"] for m in declared]
    problems = [f"missing metric {n}" for n in names if n not in values]
    problems += [f"undeclared metric {n}" for n in values if n not in names]
    for name, v in values.items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"metric {name} has no finite value")
    return problems
