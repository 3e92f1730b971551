"""Pure arithmetic of the benchmark: the median, the tail rule, span
self time and failure accounting. No I/O, so the tests can pin it."""
import math
from statistics import median  # noqa: F401 - part of this module's API

TAIL_MIN_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_MIN_BEYOND samples above
    it, as (percentile, value): the sample of rank n - 10. Below 20
    samples that percentile would sit under the median, so the maximum
    (p100) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_MIN_BEYOND:
        return 100.0, xs[-1]
    return 100.0 * (n - TAIL_MIN_BEYOND) / n, xs[n - TAIL_MIN_BEYOND - 1]


def covered(parent, children):
    """Length of the part of interval `parent` = (t0, t1) that the union
    of `children` intervals covers."""
    lo, hi = parent
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children
                     if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(parent, children):
    """A span's duration minus the part of it its child spans cover."""
    return (parent[1] - parent[0]) - covered(parent, children)


def latencies(executions, wrong_ops):
    """Per-execution latency in seconds, infinite for an execution that
    raised or whose op produced a wrong result. `executions` are dicts
    with `op`, `t0`, `t2` (epoch ms) and `error`."""
    out = []
    for e in executions:
        bad = e["error"] or e["op"] in wrong_ops
        out.append(math.inf if bad else (e["t2"] - e["t0"]) / 1000.0)
    return out


def failures(executions, wrong_ops):
    """(attempted, failed): an execution fails when it raised or when its
    op's checked output is wrong."""
    failed = sum(1 for e in executions if e["error"] or e["op"] in wrong_ops)
    return len(executions), failed


def unfinished(executions, ops, cause):
    """Failed executions for every (op, pass) a cut run did not finish:
    all of `ops` = [(op, module)] in each pass up to the last one that
    started, or in pass 0 when none did."""
    passes = max((e["pass"] for e in executions), default=0) + 1
    done = {(e["op"], e["pass"]) for e in executions}
    return [{"op": op, "module": module, "pass": p, "t0": 0.0, "t1": 0.0, "t2": 0.0,
             "error": cause}
            for p in range(passes) for op, module in ops if (op, p) not in done]


def fail_share(attempted, failed):
    return failed / attempted
