"""Turns a runner record into the benchmark's metrics, and prints them."""
import statistics

# corpus: which document generator; docs: corpus size. The star-schema
# tables are the same size (sf0.01) in every workload.
WORKLOADS = {
    "incremental": dict(corpus="fixture", docs=500),
    "skew": dict(corpus="skew", docs=250),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_s", "s")]

# per-call figures summed over a pass (max for the ones named in PEAK)
SUMMED = ["registry.build_s", "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
          "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
          "scan.rows", "scan.bytes", "shuffle.write_bytes", "shuffle.read_bytes",
          "shuffle.fetch_wait_s", "spill.mem_bytes", "spill.disk_bytes",
          "artifacts.built", "artifacts.bytes", "write.bytes", "write.files",
          "pin.blocks", "pin.recomputed", "wave.count", "wave.trigger_s",
          "wave.add_batch_s", "wave.input_rows", "wave.jobs",
          "fail.tasks", "fail.stages_resubmitted", "log.errors"]
PEAK = ["shuffle.skew_max", "pin.bytes_peak", "state.rows", "state.mem_bytes"]
SELF = ["query", "build", "action", "wave", "job", "plan"]
PER_LAYER_UNITS = {
    **{k: "s" for k in SUMMED if k.endswith("_s")},
    **{k: "bytes" for k in SUMMED + PEAK if k.endswith("bytes") or k.endswith("bytes_peak")},
    "shuffle.skew_max": "ratio", "plan.share": "ratio", "exec.busy_frac": "ratio",
    "jvm.heap_peak_mb": "MB", "jvm.gc_s": "s", "trace.overhead": "ratio",
    **{f"self.{k}_s": "s" for k in ["pass"] + SELF},
}


def unit_of(name):
    return PER_LAYER_UNITS.get(name, "count")


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None for both while that percentile
    does not lie above the median (below 21 samples)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return None, None, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def evaluate(rec, oracle_fails):
    timed = [p for p in rec["passes"] if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    plain_idx = {p["index"] for p in plain}
    timed_idx = {p["index"] for p in timed}
    calls = [c for c in rec["calls"] if c["pass"] in timed_idx]
    if rec["workload"] == "incremental":
        windows = [(p["start_ns"], p["start_ns"] + p["wall_s"] * 1e9) for p in plain]
        lat = [w["trigger_s"] for w in rec["waves"]
               if any(s <= w["start_ns"] <= e for s, e in windows)]
        lat_of = "micro-batch wave (triggerExecution)"
    else:
        lat = [c["wall_s"] for c in calls if c["pass"] in plain_idx]
        lat_of = "query call (build + noop-sink action)"
    t, pct, n = tail(lat)
    check_idx = {p["index"] for p in rec["passes"] if p["kind"] == "check"}
    checked = [c for c in rec["calls"] if c["pass"] in check_idx]
    # an operation fails at most once per call: a checked op that threw, or
    # returned no rows without an oracle, or failed the oracle (an op that
    # threw leaves no dump, so the oracle reports it too) counts once
    failures = {}
    for c in checked:
        if "error" in c:
            failures.setdefault(c["op"], "check pass: " + c["error"])
    for op in rec["empty_no_oracle"]:
        failures.setdefault(op, "no oracle and empty result")
    for op, why in oracle_fails.items():
        failures.setdefault(op, "oracle: " + why)
    check_failed = len(failures)
    timed_errors = [c for c in calls if "error" in c]
    for c in timed_errors:
        failures.setdefault(c["op"], c["error"])
    # every timed call and every checked output is one attempted operation
    attempted = len(calls) + len(checked)
    failed = check_failed + len(timed_errors)
    warm = [p["wall_s"] for p in rec["passes"] if p["kind"] in ("check", "warmup")]
    pass_s = statistics.median(p["wall_s"] for p in plain)
    result = {
        "workload": rec["workload"], "seed": rec["seed"], "trace": rec["trace"],
        "end_to_end": {
            "setup_s": rec["setup_s"],
            "pass_s": pass_s,
            "latency_p50_s": statistics.median(lat),
        },
        "latency": {"of": lat_of, "samples": n, "tail_s": t, "tail_percentile": pct},
        "landed_mb": statistics.median(p["landed_bytes"] for p in plain) / 1e6,
        "failed_frac": failed / attempted,
        "attempted": attempted, "failed": failed, "failures": failures,
        "passes": {"warmup_s": warm, "timed_s": [p["wall_s"] for p in plain],
                   "traced_s": [p["wall_s"] for p in traced],
                   "last_warmup_over_timed": warm[-1] / pass_s},
        "n_ops": len(rec["ops"]), "n_oracled": len(rec["oracled"]),
        "per_op_s": {op: statistics.median(c["wall_s"] for c in calls
                                           if c["op"] == op and c["pass"] in plain_idx)
                     for op in rec["ops"]},
    }
    if rec["trace"]:
        result["per_layer"], result["per_query"], result["log_by_query"] = \
            per_layer(rec, traced, pass_s)
    return result


def per_layer(rec, traced, untraced_pass_s):
    tr = rec["layers"]
    by_pass = {}
    for c in tr["calls"]:
        by_pass.setdefault(c["pass"], []).append(c)
    jvm = {p["index"]: p for p in tr["passes"]}
    per_pass = []
    for p in traced:
        cs = by_pass.get(p["index"], [])
        m = {k: sum(c[k] for c in cs) for k in SUMMED}
        m.update({k: max([c[k] for c in cs] or [0]) for k in PEAK})
        wall = sum(c["wall_s"] for c in cs)
        plan = m["plan.analysis_s"] + m["plan.optimize_s"] + m["plan.physical_s"]
        m["plan.share"] = plan / wall if wall else 0.0
        m["exec.busy_frac"] = m["exec.run_s"] / (p["wall_s"] * int(rec["cores"]))
        for k in SELF:
            m[f"self.{k}_s"] = sum(c["self"][k] for c in cs)
        m["self.pass_s"] = jvm[p["index"]]["self_pass_s"]
        m["jvm.heap_peak_mb"] = jvm[p["index"]]["jvm.heap_peak_mb"]
        m["jvm.gc_s"] = jvm[p["index"]]["jvm.gc_s"]
        m["landed_mb"] = p["landed_bytes"] / 1e6
        per_pass.append(m)
    layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    layer["trace.overhead"] = statistics.median(p["wall_s"] for p in traced) / untraced_pass_s - 1
    # one row per query: the median over traced passes of each figure
    rows = {}
    for c in tr["calls"]:
        rows.setdefault(c["op"], []).append(c)
    per_query = {}
    for op, cs in rows.items():
        per_query[op] = {k: statistics.median(c[k] for c in cs)
                         for k in ["wall_s"] + SUMMED + PEAK}
        per_query[op]["self"] = {k: statistics.median(c["self"][k] for c in cs) for k in SELF}
    logs = {}
    for c in tr["calls"]:
        for e in c["log.events"]:
            logs.setdefault(c["op"], []).append(e)
    return layer, per_query, logs


def contract_line(result, trace):
    if trace:
        ms = {k: {"value": v, "unit": "MB" if k == "landed_mb" else unit_of(k)}
              for k, v in result["per_layer"].items()}
    else:
        ms = {k: {"value": result["end_to_end"][k], "unit": u} for k, u in END_TO_END}
    return {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": ms}


def _fmt(v):
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def print_report(r):
    print(f"workload {r['workload']}  seed {r['seed']}  trace {r['trace']}  "
          f"ops {r['n_ops']} ({r['n_oracled']} oracled)")
    print(f"{'metric':<18}{'value':>12}  unit")
    for k, u in END_TO_END:
        print(f"{k:<18}{_fmt(r['end_to_end'][k]):>12}  {u}")
    print(f"{'failed_frac':<18}{_fmt(r['failed_frac']):>12}  ratio "
          f"({r['failed']} of {r['attempted']})")
    lat = r["latency"]
    print(f"{'landed_mb':<18}{_fmt(r['landed_mb']):>12}  MB of landed state after a pass")
    print(f"latency = one {lat['of']}; {lat['samples']} samples; " + (
        f"tail p{lat['tail_percentile']:.1f} = {lat['tail_s']:.4g} s (10 samples beyond)"
        if lat["tail_s"] is not None else "no tail: fewer than 21 samples"))
    ps = r["passes"]
    print("check + warm-up passes " + ", ".join(f"{x:.2f}" for x in ps["warmup_s"]) +
          " s; timed " + ", ".join(f"{x:.2f}" for x in ps["timed_s"]) +
          f" s; last warm-up / timed median = {ps['last_warmup_over_timed']:.3f}")
    for op, why in sorted(r["failures"].items()):
        print(f"FAILED {op}: {why}")
    if "per_layer" not in r:
        return
    L = r["per_layer"]
    print(f"\ntraced passes {', '.join(f'{x:.2f}' for x in ps['traced_s'])} s; "
          f"tracing overhead {100 * L['trace.overhead']:+.1f}% of pass_s")
    print(f"{'layer':<12}{'self_s':>9}  counts (median per traced pass)")
    rows = [
        ("pass", "self.pass_s", []),
        ("query", "self.query_s", ["jvm.heap_peak_mb", "jvm.gc_s"]),
        ("registry", "self.build_s", ["registry.build_s", "artifacts.built", "artifacts.bytes",
                                      "write.bytes", "write.files"]),
        ("action", "self.action_s", ["pin.blocks", "pin.bytes_peak", "pin.recomputed"]),
        ("plan", "self.plan_s", ["plan.analysis_s", "plan.optimize_s", "plan.physical_s",
                                 "plan.share"]),
        ("wave", "self.wave_s", ["wave.count", "wave.trigger_s", "wave.add_batch_s",
                                 "wave.input_rows", "wave.jobs", "state.rows",
                                 "state.mem_bytes"]),
        ("job", "self.job_s", ["exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
                               "exec.cpu_s", "exec.gc_s", "exec.busy_frac", "scan.rows",
                               "scan.bytes", "shuffle.write_bytes", "shuffle.read_bytes",
                               "shuffle.fetch_wait_s", "shuffle.skew_max",
                               "spill.mem_bytes", "spill.disk_bytes", "fail.tasks",
                               "fail.stages_resubmitted", "log.errors"]),
    ]
    for name, self_key, keys in rows:
        counts = "  ".join(f"{k}={_fmt(L[k])}" for k in keys)
        print(f"{name:<12}{L[self_key]:>9.3f}  {counts}")
    print(f"\n{'query (top 12 by wall)':<36}{'wall_s':>8}{'build_s':>8}{'plan_s':>8}"
          f"{'job_s':>8}{'jobs':>6}{'stages':>7}{'sh_w_MB':>9}{'skew':>6}{'built':>6}")
    pq = r["per_query"]
    for op in sorted(pq, key=lambda o: -pq[o]["wall_s"])[:12]:
        q = pq[op]
        plan = q["plan.analysis_s"] + q["plan.optimize_s"] + q["plan.physical_s"]
        print(f"{op[:35]:<36}{q['wall_s']:>8.3f}{q['registry.build_s']:>8.3f}{plan:>8.3f}"
              f"{q['self']['job']:>8.3f}{q['exec.jobs']:>6.0f}{q['exec.stages']:>7.0f}"
              f"{q['shuffle.write_bytes'] / 1e6:>9.2f}{q['shuffle.skew_max']:>6.1f}"
              f"{q['artifacts.built']:>6.0f}")
    for op, evs in sorted(r["log_by_query"].items()):
        kinds = {}
        for e in evs:
            key = e.split(":")[0] + (": already exists" if "already exists" in e else
                                     ": " + e.split(": ", 1)[-1][:60])
            kinds[key] = kinds.get(key, 0) + 1
        for k, n in kinds.items():
            print(f"log {op}: {n} x {k}")
