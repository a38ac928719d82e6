"""Pure reductions from the harness's raw record to metrics.

Everything here is a function of recorded numbers and is unit-tested in
tests/test_metrics.py; run.py only wires it together.
"""
import statistics

# Layer a Spark job belongs to, from its recorded call stack
# (`callSite.long`: the Spark API frame first, then its callers).
# A TableStore method anywhere below the first graft frame names the
# job's store layer; otherwise the first graft frame and the API call it
# made name one of the steps Main runs itself.
STORE_METHODS = [("store.append", "appendIfAbsent"), ("store.upsert", "upsert"),
                 ("store.replace", "replaceWhere")]
MAIN_STEPS = [  # (layer, Spark API call, the Main frame that made it)
    ("main.touched", "", "graft.Main$.dates$1("),
    ("main.extract_probe", ".isEmpty(", "graft.Main$.run("),
    ("main.report", ".collect(", "graft.Main$.run("),
    ("main.counts", ".count(", "graft.Main$.run("),
]


def attribute(callsite):
    """Layer of one job (a STORE_METHODS or MAIN_STEPS name), or "other"."""
    lines = [ln.strip() for ln in callsite.splitlines() if ln.strip()]
    first = next((i for i, ln in enumerate(lines) if ln.startswith("graft.")), None)
    if first is None:
        return "other"
    for layer, method in STORE_METHODS:
        if any(ln.startswith(f"graft.store.TableStore.{method}(") for ln in lines[first:]):
            return layer
    api = lines[first - 1] if first else ""
    for layer, call, frame in MAIN_STEPS:
        if lines[first].startswith(frame) and call in api:
            return layer
    return "other"


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, by nearest rank; below 21 samples no percentile
    above the median has ten beyond, so the median stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c["start_us"], c["end_us"]) for c in spans if c["parent"] == span["id"]]
    return span["end_us"] - span["start_us"] - covered(kids, span["start_us"], span["end_us"])


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def result_line(correct, attempted, failed, metrics, spec):
    """The final output object: every metric named in `spec` (a list of
    BENCHMARK.json metric entries) with its unit, in spec order."""
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }
