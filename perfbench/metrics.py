"""Summary statistics of one run's measurements."""
import statistics

# A tail percentile is reported only with at least this many samples above it.
TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, level): with n sorted samples that is the (n - 10)-th
    smallest, at level (n - 10) / n. With fewer than TAIL_BEYOND + 1 samples
    no percentile qualifies, and the maximum is returned at level 1.0.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 1.0
    return xs[n - TAIL_BEYOND - 1], (n - TAIL_BEYOND) / n


def end_to_end(result):
    """End-to-end metrics of a run, from the runner's result file.

    A run repeats its work in passes (gate: every timed query once; word
    count: one job). pass_s is the median pass wall time; op_p50_s is the
    median over operations of each operation's median time over passes.
    """
    ops = result["ops"]
    passes, per_op = {}, {}
    for o in ops:
        t = o["construct_s"] + o["action_s"]
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + t
        per_op.setdefault(o["name"], []).append(t)
    failed = sum(1 for o in ops if not o["ok"])
    return {
        "setup_s": statistics.median(s["setup_s"] for s in result["setups"]),
        "pass_s": statistics.median(passes.values()),
        "op_p50_s": statistics.median(statistics.median(v) for v in per_op.values()),
        "retained_heap_mb": result["retained_heap_mb"],
        "ok_frac": 1.0 - failed / len(ops),
    }


def setup_layers(result):
    """Per-layer split of set-up time, as medians over the run's set-ups."""
    s = result["setups"]
    return {
        "EngineSession.session_s": statistics.median(x["session_s"] for x in s),
        "EngineSession.warmup_s": statistics.median(x["warmup_s"] for x in s),
        "sources.gate_tables_s": statistics.median(x["gate_tables_s"] for x in s),
    }
