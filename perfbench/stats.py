"""Summary statistics and the operation log shared by every workload."""
import math
import statistics
import threading

# Operations whose latency `read_ms_p50` reports, per workload.
READ_KINDS = {"interactive": {"read"}, "export": {"export"}, "ingest": {"read"},
              "pipeline": {"query"}}

# Percentiles a tail may be reported at, highest first.
TAILS = (99.9, 99, 95, 90, 50)


def tail_percentile(n):
    """The highest percentile in TAILS that leaves at least ten of `n`
    samples beyond it, or None when even the median does not."""
    for p in TAILS:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100 * len(xs)))
    return xs[k - 1]


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_medians(ops):
    """{statement kind (`Op.label`): median latency in ms}."""
    by = {}
    for o in ops:
        by.setdefault(o.label, []).append(o.ms)
    return {k: median(v) for k, v in by.items()}


def kind_geomean(ops):
    """Geometric mean over statement kinds of each kind's geometric mean
    latency in ms: every kind counts once, however often it ran, and every
    sample of a kind counts (a kind's median would use one or two)."""
    by = {}
    for o in ops:
        by.setdefault(o.label, []).append(o.ms)
    return geomean([geomean(v) for v in by.values()])


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


class Op:
    """One client operation. `ok` is False for an error response, a
    wrong answer, or a connection lost mid-statement; failed operations
    count as attempted and never as a latency sample."""
    __slots__ = ("kind", "t0", "t1", "wall0", "wall1", "ok", "rows", "first_row",
                 "conn", "phase", "why", "changed", "label")

    def __init__(self, kind, t0, wall0, conn=None, phase="measure"):
        self.kind = kind
        self.t0, self.wall0 = t0, wall0
        self.t1 = self.wall1 = None
        self.ok = False
        self.rows = 0
        self.first_row = None
        self.conn = conn
        self.phase = phase
        self.why = None
        self.changed = 0   # rows a write's command tag reports
        self.label = kind  # the statement kind, for per-kind summaries

    @property
    def ms(self):
        return (self.t1 - self.t0) * 1000.0


class OpLog:
    """Thread-safe list of operations, with the run's failure accounting."""

    def __init__(self):
        self.ops = []
        self.lock = threading.Lock()
        self.failures = []

    def add(self, op):
        with self.lock:
            self.ops.append(op)
            if not op.ok:
                self.failures.append("%s: %s" % (op.kind, str(op.why)[:300]))

    @property
    def attempted(self):
        return len(self.ops)

    @property
    def failed(self):
        return sum(1 for o in self.ops if not o.ok)

    def select(self, phase, kinds=None):
        return [o for o in self.ops if o.ok and o.phase == phase
                and (kinds is None or o.kind in kinds)]

    def window(self, phase):
        """Wall seconds from the first start to the last end in `phase`."""
        ops = [o for o in self.ops if o.phase == phase and o.t1 is not None]
        return max(o.t1 for o in ops) - min(o.t0 for o in ops)
