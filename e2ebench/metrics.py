"""Turns a raw run record (written by e2ebench.Main) into the benchmark's
metrics. Pure functions over plain data, so the arithmetic is unit-tested
without Spark. The workload and metric catalogue is read from BENCHMARK.json.
"""
import json
import math
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)

WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
END_TO_END = _SPEC["end_to_end"]
PER_LAYER = _SPEC["per_layer"]
UNITS = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}


def tail(latencies):
    """Tail latency as (value, percentile, samples beyond): the p90 by
    nearest rank. A run here has 5 to 30 ops; the rule "highest percentile
    with at least ten samples beyond it" would give the minimum at 11 ops
    and stay below the median up to 20, jumping whenever one op more or
    less fits in the run, so the p90 is reported with its count beyond.
    """
    xs = sorted(latencies)
    rank = math.ceil(0.9 * len(xs))
    return xs[rank - 1], 90.0, len(xs) - rank


def span_self_times(spans):
    """name -> Σ self time of spans with that name: each span's duration
    minus the part of it its child spans cover (children never overlap).
    """
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1_s"] - s["t0_s"]
    out = {}
    for s in spans:
        own = s["t1_s"] - s["t0_s"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def interval_union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def spark_layer(op, columns, cores):
    """spark.* metrics of one traced op from its task rows."""
    tasks = [dict(zip(columns, t)) for t in op["tasks"]]
    lo, hi = op["wall_ms"]
    wall = max(hi - lo, 1)
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish_ms"] - t["launch_ms"])
    skew = 1.0
    if by_stage:
        biggest = max(by_stage.values(), key=sum)
        skew = max(biggest) / max(statistics.median(biggest), 1.0)
    busy = sum(max(0, min(t["finish_ms"], hi) - max(t["launch_ms"], lo)) for t in tasks)
    covered = interval_union_ms([(t["launch_ms"], t["finish_ms"]) for t in tasks], lo, hi)
    return {
        "spark.task_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.tasks": len(tasks),
        "spark.scan_bytes": sum(t["input_bytes"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "spark.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.peak_exec_mem_mb": max([t["peak_exec_mem"] for t in tasks] or [0]) / 1048576,
        "spark.retained_block_mb": op["retained_block_mb"],
        "spark.task_skew": skew,
        "spark.driver_gap_s": (wall - covered) / 1e3,
        "spark.cores_busy_frac": busy / (wall * cores),
        "spark.task_failures": sum(1 for t in tasks if t["failed"]),
    }


def layer_values(workload, op, setup_ladder):
    """Engine-layer metrics of one traced op. Lazy layers come from the
    prefix ladder: a layer's self time is the noop-sink time of the plan
    prefix ending at it minus that of the prefix before it.
    """
    p = op.get("ladder", {})
    own = span_self_times(op.get("spans", []))
    info = op.get("info", {})
    v = {}
    if workload == "join_tile":
        v["expr.cell_encode_s"] = p["p.cells"] - p["p.scan_anchor"]
        v["ops.spatial_join_s"] = p["p.join"] - p["p.cells"]
        v["ops.join_candidates"] = p["c.candidates"]
        v["ops.join_matches"] = p["c.matches"]
        v["ops.pip_hit_ratio"] = p["c.matches"] / max(p["c.candidates"], 1)
        v["expr.tile_codec_s"] = p["p.codec"] - p["p.scan_bytes"]
        v["ops.tiling_s"] = p["p.tiles"] - p["p.codec"]
        v["ops.tiling_boundaries_s"] = own.get("ImageOps.materializeTiles", 0.0)
        v["ops.tiles"] = p["c.tiles"]
        v["expr.ear_clip_s"] = setup_ladder["p.triangles"] - setup_ladder["p.thematic"]
        v["expr.triangles"] = setup_ladder["c.triangles"]
    elif workload == "citygml_obj":
        v["sources.ingest_s"] = p["p.ingest"]
        v["sources.polygons"] = p["c.polygons"]
        v["sources.rejects"] = p["c.rejects"]
        v["ops.obj_validate_s"] = p["p.validate"] - p["p.ingest"]
        v["expr.ear_clip_s"] = p["p.triangles"] - p["p.validate"]
        v["expr.triangles"] = p["c.triangles"]
        v["ops.obj_corners_s"] = p["p.corners"] - p["p.triangles"]
        v["ops.obj_dict_encode_s"] = p["p.dict"] - p["p.corners"]
        v["ops.obj_lines_s"] = p["p.lines"] - p["p.v"] - p["p.f"]
        v["ops.obj_vertices"] = p["c.vertices"]
        v["ops.obj_faces"] = p["c.faces"]
        v["sink.obj_write_s"] = p["p.write"] - p["p.lines"]
        v["sink.files_written"] = info["files_written"]
        v["sink.bytes_written"] = info["bytes_written"]
        v["sink.bytes_per_polygon"] = info["bytes_written"] / max(op["rows"], 1)
    return v


def rows_per_s(ops):
    ok = [o for o in ops if o["ok"]]
    t = sum(o["latency_s"] for o in ok)
    return sum(o["rows"] for o in ok) / t if t > 0 else 0.0


def end_to_end(rec):
    """(metrics, attempted, failed, details) of the untraced loop."""
    ops = rec["timed"]
    ok = [o for o in ops if o["ok"]]
    lat = [o["latency_s"] for o in ok]
    failed = len(ops) - len(ok)
    m = {"setup_s": statistics.median(rec["setup_s"])}
    details = {"fail_frac": failed / len(ops), "ops": len(ops)}
    if ok:
        value, pct, beyond = tail(lat)
        m["rows_per_s"] = rows_per_s(ops)
        m["op_p50_s"] = statistics.median(lat)
        m["op_tail_s"] = value
        details["op_tail_s"] = {"percentile": round(pct, 1), "samples": len(lat),
                                "beyond": beyond}
    m["live_heap_peak_mb"] = max(o["heap_mb"] for o in ops)
    return m, len(ops), failed, details


def per_layer(rec):
    """(metrics, attempted, failed, details) of the traced loop, medians
    over its ops; layers that do not run in the workload read 0.
    """
    ops = rec["traced"]
    ok = [o for o in ops if o["ok"]]
    per_op = []
    for o in ok:
        v = layer_values(rec["workload"], o, rec.get("setup_ladder", {}))
        v.update(spark_layer(o, rec["task_columns"], rec["cores"]))
        per_op.append(v)
    m = {}
    for name in (x["name"] for x in PER_LAYER):
        xs = [v[name] for v in per_op if name in v]
        m[name] = statistics.median(xs) if xs else 0.0
    untraced = rows_per_s(rec["timed"])
    m["trace.overhead_frac"] = 1.0 - rows_per_s(ops) / untraced if untraced > 0 else 0.0
    failed = len(ops) - len(ok)
    return m, len(ops), failed, {"traced_ops": len(ops), "untraced_ops": len(rec["timed"])}


def summarize(rec, trace):
    """(result line, details line) as printed by run.py."""
    m, attempted, failed, details = per_layer(rec) if trace else end_to_end(rec)
    details.update({"workload": rec["workload"], "seed": rec["seed"],
                    "gen_s": rec["gen_s"], "input": rec["input"]})
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()},
    }
    return result, details
