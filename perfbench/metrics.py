"""Metric definitions and the reduction of one raw JVM result to them.

End-to-end metrics are the same for every workload (each is printed on
every run); what a pass, or an operation of the detail percentiles, is
depends on the workload:

  migrate_pg      pass = schema build + COPY of nine tables;
                  op = the build or one table's transfer
  migrate_verify  pass = chunked transfer + views + five-layer validation
                  (verified_copy_s); op = a table transfer, a
                  view or one validation layer of one table
  query_roster    pass = every roster query once
                  (query_total_s); op = one query
"""
import json
import math
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)

# name -> unit, in BENCHMARK.json's order
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# Layers a workload does not exercise by design (the predicted no-change
# pairs of README.md): their metrics read 0 there. Any other per-layer
# metric the JVM side does not produce is an error.
ABSENT = {
    "migrate_pg": ("validate.", "dialect.", "queries."),
    "migrate_verify": ("copy.", "pg.", "ddl.", "queries."),
    "query_roster": ("transfer.", "copy.", "pg.", "ddl.", "dialect.", "validate."),
}
# kinds of ops that are correctness checks, not timed work
CHECK_KINDS = {"check", "corruption"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _pass_metrics(passes):
    ops = [o["s"] for p in passes for o in p["ops"] if o["kind"] not in CHECK_KINDS]
    return {
        "pass_s": median([p["wall_s"] for p in passes]),
        "op_p50_s": median(ops),
        "op_p95_s": percentile(ops, 0.95),
        "ops": len(ops),
    }


def _detail(workload, passes, attempted, failed):
    """The workload-specific figures, medians over passes."""
    ops = _pass_metrics(passes)
    d = {"failed_ratio": failed / attempted if attempted else 1.0, "passes": len(passes),
         "op_p50_s": ops["op_p50_s"], "op_p95_s": ops["op_p95_s"]}
    ph = lambda k: median([p["phases"].get(k, 0.0) for p in passes])  # noqa: E731
    if workload in ("migrate_pg", "migrate_verify"):
        d["transfer_rows_per_s"] = median([
            p["counters"].get("transfer.rows", 0.0) / p["phases"]["transfer"]
            for p in passes if p["phases"].get("transfer")])
        d["transfer_s"] = ph("transfer")
    if workload == "migrate_pg":
        d["build_s"] = ph("build")
    if workload == "migrate_verify":
        d["validate_s"] = ph("validate")
        d["views_s"] = ph("views")
        d["verified_copy_s"] = ph("wall")
    if workload == "query_roster":
        qs = [o["s"] for p in passes for o in p["ops"] if o["kind"] == "query"]
        d["query_total_s"] = median([sum(o["s"] for o in p["ops"] if o["kind"] == "query")
                                     for p in passes])
        d["query_p50_s"] = median(qs)
        d["query_p95_s"] = percentile(qs, 0.95)
        d["query_samples"] = len(qs)
        per_query = {}
        for p in passes:
            for o in p["ops"]:
                per_query.setdefault(o["name"], []).append(o["s"])
        d["per_query_s"] = {k: median(v) for k, v in sorted(per_query.items())}
    return d


def summarize(raw, setup, attempted, failures, facts):
    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    base = _pass_metrics(untraced)
    # set-up: the median of the repeated input generation and cluster
    # start-ups, plus the one JVM start and workload set-up (warm pass)
    e2e = {
        "setup_s": setup["prepare_s"] + setup["jvm_session_s"] + setup["jvm_setup_s"],
        "pass_s": base["pass_s"],
    }
    per_layer, overhead = {}, {}
    if traced:
        tm = _pass_metrics(traced)
        computed = {
            "jvm.peak_rss_mb": raw["peak_rss_mb"],
            "failed_ratio": len(failures) / attempted if attempted else 1.0,
            "trace.unexplained_s": median([p["unexplained_s"] for p in traced]),
        }
        for k in ("pass_s", "op_p50_s", "op_p95_s"):
            computed[f"trace.overhead_{k}"] = tm[k] - base[k]
            overhead[k] = {"untraced": base[k], "traced": tm[k], "overhead": tm[k] - base[k]}
        absent = ABSENT[raw["workload"]]
        for k in PER_LAYER:
            if k in computed:
                per_layer[k] = computed[k]
            elif k in raw["layers"]:
                per_layer[k] = raw["layers"][k]
            elif k.startswith(absent):
                per_layer[k] = 0.0
            else:
                raise RuntimeError(f"per-layer metric {k} missing from the JVM result")
    return {
        "workload": raw["workload"],
        "end_to_end": e2e,
        "per_layer": per_layer,
        "detail": _detail(raw["workload"], untraced, attempted, len(failures)),
        "tracing_overhead": overhead,
        "self_times_s_per_pass": raw["self_times"],
        "setup": setup,
        "facts": facts,
        "attempted": attempted,
        "failures": failures,
        "samples": {"untraced_passes": len(untraced), "traced_passes": len(traced),
                    "untraced_ops": base["ops"]},
        "passes": [{k: p[k] for k in ("index", "traced", "wall_s", "calib_s", "calib_par_s",
                                      "gc_s", "phases", "unexplained_s")} for p in passes],
    }
