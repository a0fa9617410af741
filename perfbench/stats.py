"""Metric arithmetic for the benchmark: percentiles, the tail percentile a
sample count supports, failure accounting and the result line."""
import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# Candidate tail percentiles, highest first. A percentile is reported only
# when at least MIN_BEYOND samples lie beyond it.
TAILS = (99.9, 99.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(n):
    """Highest percentile in TAILS with at least MIN_BEYOND of ``n`` samples
    beyond it; None when even the median lacks them."""
    for p in TAILS:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated percentile (the numpy default) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


class Accounting:
    """Attempted and failed operations of one run. Every timed operation is
    one attempt; so is every output check made outside the timed
    operations. An operation whose response fails a check is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons = []

    def ops(self, oks):
        oks = list(oks)
        self.attempted += len(oks)
        self.failed += sum(1 for ok in oks if not ok)

    def check(self, ok, why=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(why)
        return ok

    def checks(self, attempted, failed, reasons=()):
        self.attempted += int(attempted)
        self.failed += int(failed)
        self.reasons.extend(list(reasons)[:max(0, 20 - len(self.reasons))])

    @property
    def fail_frac(self):
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self):
        return self.attempted > 0 and self.failed == 0


def valid_metric(name, unit):
    return bool(NAME_RE.match(name)) and bool(UNIT_RE.match(unit))


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. ``metrics`` maps name to
    (value, unit)."""
    for name, (value, unit) in metrics.items():
        if not valid_metric(name, unit):
            raise ValueError(f"invalid metric name/unit: {name!r} {unit!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
    if int(attempted) < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
