"""Turns one runner result into the benchmark's metrics.

Pure functions over the result JSON the JVM runner writes (see
src/main/scala/perfbench/Runner.scala), so the arithmetic is testable
without Spark.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_elapsed(p):
    """Wall seconds of one pass: its ops back to back."""
    return sum(o["seconds"] for o in p["ops"])


def net_of_steal(rec):
    """Wall seconds of an op or a setup less the share of the busy CPU
    time the host took away (steal) meanwhile. On a shared VM steal
    comes and goes with other tenants' load; raw wall times of identical
    runs then spread 0.3-0.4 (IQR/median), these about 0.13."""
    return rec["seconds"] * (1.0 - rec["steal_share"])


def timed_passes(result):
    """The untraced passes after the warm-up pass: the ones the timings
    come from."""
    return [p for p in result["passes"]
            if not p["traced"] and not p.get("warmup")]


def assign_parents(spans):
    """Jobs carry no parent: each belongs to the op that was running
    when it started (ops run one at a time)."""
    ops = sorted((s for s in spans if s["kind"] == "op"),
                 key=lambda s: s["start_ms"])
    for s in spans:
        if s["kind"] == "job" and s["parent"] is None:
            s["parent"] = next((o["id"] for o in ops
                                if o["start_ms"] <= s["start_ms"] <= o["end_ms"]),
                               "workload")
    return spans


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times_ms(spans):
    """Span id -> its duration not covered by any of its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(
            (s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def failures(result, expected, hdb_checks=None):
    """(attempted, failed, messages). Every setup prepare and every timed
    op execution is one attempt; it fails if it throws or its output is
    wrong. A gate's output is its content hash against `expected`; the
    pipeline's outputs are checked per pass by run.py (`hdb_checks`: one
    dict per pass, op name or "historical" -> error message or None),
    where the historical sink counts as one more attempt per pass."""
    attempted, msgs = 0, []
    for i, rec in enumerate(result["setup"]):
        attempted += len(rec["prepares"])
        msgs += [f"setup {i + 1} prepare {n}: {e}"
                 for n, e in rec["errors"].items()]
    for n, p in enumerate(result["passes"]):
        checks = hdb_checks[n] if hdb_checks is not None else None
        for o in p["ops"]:
            attempted += 1
            where = f"pass {n + 1} op {o['name']}"
            if "error" in o:
                msgs.append(f"{where}: {o['error']}")
            elif checks is not None:
                if checks.get(o["name"]):
                    msgs.append(f"{where}: {checks[o['name']]}")
            elif o.get("hash") != expected.get(o["name"]):
                msgs.append(f"{where}: output hash {o.get('hash')}, "
                            f"expected {expected.get(o['name'])}")
        if checks is not None:
            attempted += 1
            if checks.get("historical"):
                msgs.append(f"pass {n + 1}: {checks['historical']}")
    return attempted, len(msgs), msgs


def end_to_end(result, attempted, failed):
    passes = timed_passes(result)
    per_op = {}
    for p in passes:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(net_of_steal(o))
    op_s = [median(ts) for ts in per_op.values()]
    return {
        "elapsed_s": sum(op_s),
        "op_p50_s": median(op_s),
        "setup_s": median([net_of_steal(r) for r in result["setup"]]),
        # the retained heap grows with every pass, so it is read after a
        # fixed amount of work: the first timed pass, not after as many
        # passes as the run's speed allowed
        "peak_heap_mb": passes[0]["peak_heap_mb"],
        "ok_frac": 1.0 - failed / attempted,
    }


def per_layer(result, cores, attempted, failed, spans, hdb=None):
    """Per-layer metrics of a traced run. Counters are per traced pass.
    Wall, CPU, op and step times are medians over the warm untraced
    passes, the kind the end-to-end metrics measure; the trace overhead
    compares the traced passes with those."""
    untraced = timed_passes(result)
    traced = [p for p in result["passes"] if p["traced"]]
    n = len(traced)
    totals = result["trace"]["totals"]
    out = {k: totals.get(k, 0.0) / n for k in (
        "plan.analysis_s", "plan.optimizer_s", "plan.physical_s",
        "plan.executions", "sched.jobs", "sched.stages", "sched.tasks",
        "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.task_failures",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
        "spill.disk_bytes", "spill.memory_bytes", "io.input_bytes",
        "io.output_bytes", "stream.queries", "stream.batches",
        "stream.trigger_s", "stream.add_batch_s", "stream.overhead_s",
        "stream.state_rows")}
    out["block.peak_stored_bytes"] = totals.get("block.peak_stored_bytes", 0.0)
    untraced_s = median([pass_elapsed(p) for p in untraced])
    traced_s = median([pass_elapsed(p) for p in traced])
    out["exec.busy_frac"] = out["exec.task_s"] / (traced_s * cores)
    own = self_times_ms(assign_parents(spans))
    out["sched.driver_self_s"] = sum(
        own[s["id"]] for s in spans if s["kind"] == "op") / 1e3 / n
    out["trace.overhead_frac"] = (traced_s - untraced_s) / untraced_s
    out["fail_frac"] = failed / attempted
    out["pass.wall_s"] = untraced_s
    out["pass.cpu_s"] = median([sum(o["cpu_seconds"] for o in p["ops"])
                                for p in untraced])
    out["host.steal_frac"] = median([
        sum(o["steal_share"] * o["seconds"] for o in p["ops"]) /
        pass_elapsed(p) for p in untraced])
    for name in [o["name"] for o in untraced[0]["ops"]]:
        out[f"op.{name}_s"] = median([o["seconds"] for p in untraced
                                      for o in p["ops"] if o["name"] == name])
    setups = result["setup"]
    for name in setups[0]["prepares"]:
        out[f"setup.{name}_s"] = median([r["prepares"][name] for r in setups])
    for k in ("stores_built", "store_bytes", "double_builds"):
        out[f"setup.{k}"] = median([r[k] for r in setups])
    if hdb is not None:
        def step(k):
            return median([sum(o.get(k, 0.0) for o in p["ops"])
                           for p in untraced])
        out.update({
            "jobs.rows_in": hdb["rows_in"],
            "jobs.scraped_rows_out": hdb["scraped_rows_out"],
            "jobs.historical_rows_out": hdb["historical_rows_out"],
            "jobs.dedup_kept_frac": hdb["scraped_rows_out"] / hdb["listings_in"],
            "jobs.out_bytes_per_in_byte": hdb["out_bytes"] / hdb["in_bytes"],
            "jobs.scraped_write_s": step("scraped_write_s"),
            "jobs.historical_write_s": step("historical_write_s"),
        })
    return out
