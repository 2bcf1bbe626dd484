"""Summary math and output checks for the benchmark's records.

The JVM harness writes one JSON record per line: set-up steps, ops (with
their output checks), samples derived from several ops, and layer
metrics. This module turns them into the result line: medians,
quartiles, the tail percentile that has at least ten samples beyond it,
and which ops failed.
"""

import statistics

# percentiles considered for the tail, highest first, in permille
TAIL_PERMILLE = (999, 990, 950, 900, 750)
MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values):
    """(q1, q3) as statistics.quantiles(values, n=4) gives them; a single
    sample is its own quartiles."""
    if len(values) < 2:
        return (values[0], values[0])
    q = statistics.quantiles(values, n=4)
    return (q[0], q[2])


def tail_percentile(values):
    """(p, value) for the highest percentile with at least ten samples
    beyond it, or None when there are too few samples for any."""
    n = len(values)
    for pm in TAIL_PERMILLE:
        if n * (1000 - pm) >= MIN_BEYOND * 1000:
            return (pm / 10.0, sorted(values)[min(n - 1, n * pm // 1000)])
    return None


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def expected_value(workload, check, values, pins):
    """The value a check must match, when the harness did not supply it:
    closed forms of the CometBFT fixture and pinned content hashes."""
    name = check["name"]
    if workload == "etl_small":
        h = int(values["height"])
        closed = {
            "events.entering_new_round": 4 * h,
            "events.committed_block": 4 * h,
            "events.send_vote": 24 * h,
        }
        if name in closed:
            return closed[name]
        if name == "digest":
            return pins.get("etl_digest", {}).get(str(h))
    if workload == "serve_mutate":
        query, _, field = name.rpartition(".")
        return pins.get("serve", {}).get(query, {}).get(field)
    return None


def check_failures(workload, op, pins):
    """Names of the op's checks that do not hold, with what was seen."""
    bad = []
    for c in op.get("checks", []):
        exp = c.get("expected")
        if exp is None:
            exp = expected_value(workload, c, op.get("values", {}), pins)
        if exp is None or c.get("observed") != exp:
            bad.append("%s: observed %r, expected %r" % (c["name"], c.get("observed"), exp))
    return bad


def op_failed(workload, op, pins):
    return op.get("error") is not None or bool(check_failures(workload, op, pins))


def setup_seconds(records):
    """Set-up time: every set-up step once, except input generation,
    which is repeated and enters as its median."""
    total = 0.0
    inputs = []
    for r in records:
        if r["kind"] != "setup":
            continue
        if r["name"].startswith("inputs."):
            inputs.append(r["s"])
        else:
            total += r["s"]
    return total + (median(inputs) if inputs else 0.0)


def summarize(workload, records, pins):
    """(attempted, failed, problems, samples) where samples maps a sample
    name to the measured (non-warm-up) values of successful ops."""
    attempted = failed = 0
    problems = []
    samples = {}
    for r in records:
        kind = r["kind"]
        if kind == "op":
            attempted += 1
            if op_failed(workload, r, pins):
                failed += 1
                why = r.get("error") or "; ".join(check_failures(workload, r, pins))
                problems.append("%s%s: %s" % (r["name"], " (warm-up)" if r.get("warmup") else "", why))
                continue
            if not r.get("warmup"):
                samples.setdefault(r["name"], []).append(r["s"])
                for k, v in r.get("values", {}).items():
                    samples.setdefault("%s.%s" % (r["name"], k), []).append(v)
        elif kind == "sample" and not r.get("warmup"):
            samples.setdefault(r["name"], []).append(r["s"])
    return attempted, failed, problems, samples


def describe(name, unit, values):
    """One human-readable line: median, quartiles, tail and sample count."""
    q1, q3 = quartiles(values)
    tail = tail_percentile(values)
    tail_s = "p%g %.4f" % tail if tail else "no tail (<%d beyond p75)" % MIN_BEYOND
    return "%s: median %.4f %s, q1 %.4f, q3 %.4f, %s, n=%d" % (
        name, median(values), unit, q1, q3, tail_s, len(values))
