"""Per-layer metrics of a traced run, and the human-readable summary."""

from __future__ import annotations

import json
from statistics import median

from stats import percentile, reportable_percentiles
from workloads import OP_NAMES

# name -> (unit, better).  Every traced run reports all of them; a layer
# the workload does not run reads 0.
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "data.table_calls": ("count", "lower"),
    "data.table_s": ("s", "lower"),
    "data.table_jobs": ("count", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "plan.s": ("s", "lower"),
    "action.s": ("s", "lower"),
    "action.jobs": ("count", "lower"),
    "action.stages": ("count", "lower"),
    "action.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.input_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.task_skew": ("ratio", "lower"),
    "exec.busy_frac": ("ratio", "higher"),
    "sources.checksum_s": ("s", "lower"),
    "sources.valsort_s": ("s", "lower"),
    "sort.map_stage_s": ("s", "lower"),
    "sort.reduce_stage_s": ("s", "lower"),
    "sort.records_per_s": ("1/s", "higher"),
    "io.shuffle_write_per_input": ("ratio", "lower"),
    "io.spill_per_input": ("ratio", "lower"),
    "io.output_per_input": ("ratio", "lower"),
    "streaming.replay_s": ("s", "lower"),
    "streaming.replay_jobs": ("count", "lower"),
    "trace_overhead_frac": ("ratio", "lower"),
}
for _ops in OP_NAMES.values():
    for _op in _ops:
        LAYER_METRICS[f"op.{_op}.s"] = ("s", "lower")

MB = 1 << 20


def _descendants(spans, root: int) -> list:
    """Spans below ``root`` (spans nest on one thread, so they follow
    their ancestor in the list)."""
    inside = {root}
    out = []
    for s in spans[root + 1:]:
        if s.parent in inside:
            inside.add(s.id)
            out.append(s)
    return out


def _pass_layers(p: dict, spans, counters, cores: int) -> dict:
    v = dict.fromkeys(
        ("data.table_calls", "data.table_s", "data.table_jobs", "build.s", "build.jobs",
         "plan.s", "action.s", "action.jobs", "action.stages", "action.tasks",
         "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.input_mb",
         "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
         "sources.valsort_s", "sort.map_stage_s", "sort.reduce_stage_s",
         "streaming.replay_s", "streaming.replay_jobs"),
        0.0,
    )
    longest = None
    records = sort_s = shuffle_w = spill = output = 0
    for c in p["calls"]:
        if "span" not in c:
            continue
        for s in _descendants(spans, c["span"]):
            if s.name == "data.table":
                v["data.table_calls"] += 1
                v["data.table_s"] += s.seconds
                v["data.table_jobs"] += s.jobs
            elif s.name == "build":
                v["build.s"] += s.seconds
                v["build.jobs"] += s.jobs
            elif s.name == "plan":
                v["plan.s"] += s.attrs["catalyst_s"]
            elif s.name == "streaming.replay":
                v["streaming.replay_s"] += s.seconds
                v["streaming.replay_jobs"] += s.jobs
            elif s.name == "action":
                v["action.s"] += s.seconds
                v["action.jobs"] += s.jobs
                for st in counters.stages(s.attrs["stage_lo"], s.attrs["stage_hi"]):
                    v["action.stages"] += 1
                    v["action.tasks"] += st["tasks"]
                    if st["shuffle_write_b"]:
                        v["sort.map_stage_s"] += st["seconds"]
                    elif st["shuffle_read_b"]:
                        v["sort.reduce_stage_s"] += st["seconds"]
        for st in counters.stages(*c["stages"]):
            v["exec.task_run_s"] += st["run_s"]
            v["exec.task_cpu_s"] += st["cpu_s"]
            v["exec.gc_s"] += st["gc_s"]
            v["exec.input_mb"] += st["input_b"] / MB
            v["exec.shuffle_read_mb"] += st["shuffle_read_b"] / MB
            v["exec.shuffle_write_mb"] += st["shuffle_write_b"] / MB
            v["exec.spill_mb"] += st["spill_b"] / MB
            if longest is None or st["seconds"] > longest["seconds"]:
                longest = st
            if "records" in c:
                shuffle_w += st["shuffle_write_b"]
                spill += st["spill_b"]
        if "records" in c:
            records += c["records"]
            sort_s += c["s"]
            output += c["output_b"]
            v["sources.valsort_s"] += c["valsort_s"]
    if not records:
        # Only GraySort runs sorts; the sort.* stage split means nothing
        # for other workloads.
        v["sort.map_stage_s"] = v["sort.reduce_stage_s"] = 0.0
    input_b = records * 100
    v["exec.task_skew"] = longest["skew"] if longest else 0.0
    v["exec.busy_frac"] = v["exec.task_run_s"] / (p["wall_s"] * cores)
    v["sort.records_per_s"] = records / sort_s if sort_s else 0.0
    v["io.shuffle_write_per_input"] = shuffle_w / input_b if input_b else 0.0
    v["io.spill_per_input"] = spill / input_b if input_b else 0.0
    v["io.output_per_input"] = output / input_b if input_b else 0.0
    return v


def layer_metrics(passes, tracer, counters, bench, start_s: float, warmup_s: float,
                  cores: int) -> dict:
    """Every per-layer metric: medians over the traced passes, per-op
    times from the untraced ones."""
    counters.settle()
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    per_pass = [_pass_layers(p, tracer.spans, counters, cores) for p in traced]
    vals = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    vals["session.start_s"] = start_s
    vals["session.warmup_s"] = warmup_s
    vals["sources.checksum_s"] = bench.checksum_s
    # The first pass runs least warm; compare the traced passes with
    # the untraced ones after it.
    later = [p for p in passes[1:] if not p["traced"]]
    vals["trace_overhead_frac"] = (
        median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in later]) - 1
    )
    for op in (o for ops in OP_NAMES.values() for o in ops):
        times = [c["s"] for p in plain for c in p["calls"] if c["op"] == op]
        vals[f"op.{op}.s"] = median(times) if times else 0.0
    return {k: {"value": vals[k], "unit": unit} for k, (unit, _) in LAYER_METRICS.items()}


def print_summary(env: dict, e2e: dict, passes, bench, workload, layers) -> None:
    """Every metric by name and unit, for a reader; the JSON result
    line follows it."""
    plain = [p for p in passes if not p["traced"]]
    lat = [c["s"] for p in plain for c in p["calls"]]
    print(f"perfbench {workload.name} seed={env['seed']}: {len(plain)} timed pass(es), "
          f"{len(lat)} operation samples")
    print(f"  wall_s         {e2e['wall_s']:.4f} s   (one pass: sum of per-operation medians)")
    print(f"  op_p50_s       {e2e['op_p50_s']:.4f} s")
    shown = [p for p in reportable_percentiles(len(lat)) if p != 50]
    for p in shown:
        print(f"  op_p{p}_s       {percentile(lat, p):.4f} s")
    if 90 not in shown:
        print(f"  op_p90_s       omitted: {len(lat)} samples, p90 needs >= 100")
    print(f"  setup_s        {e2e['setup_s']:.4f} s")
    sort_calls = [c for p in plain for c in p["calls"] if "records" in c]
    if sort_calls:
        rps = sum(c["records"] for c in sort_calls) / sum(c["s"] for c in sort_calls)
        print(f"  records_per_s  {rps:.1f} 1/s")
    frac = len(bench.failures) / bench.attempted if bench.attempted else 0.0
    print(f"  failed_frac    {frac:.4f} ({len(bench.failures)}/{bench.attempted})")
    if layers:
        for k, m in layers.items():
            print(f"  {k:<28} {m['value']:.6g} {m['unit']}")
    print("env " + json.dumps(env))
