"""Pure helpers of the benchmark: seeded inputs, percentiles, span algebra.

Nothing here touches the engine, so `test_bench.py` covers it in seconds.
"""

import datetime as dt
import random
import statistics

from gen import EVENT_DAYS, EVENT_START, EVENT_TYPES

# The registry slice: one query for each batch module the other workloads
# do not reach (Analytics and Params are the dashboard's) and one streaming
# gate, sized so that a run fits the benchmark's time budget (README.md
# lists what was left out and why).
REGISTRY_BATCH = [
    "dd17_scrub_dup_spans", "dd7_embed_neardup_lsh", "td17_dup_ngrams", "q40_triangles",
    "sql8_window_ranks"]
REGISTRY_STREAM = ["st9_mv_maintenance"]

# Percentiles a tail metric may report, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)
TAIL_MIN_BEYOND = 10


def dashboard_params(seed, n):
    """`n` widget states: a 1-27 day window inside the events' dates, an
    hour window and a non-empty type subset, as `Params.EventParams` fields."""
    rng = random.Random(f"dashboard:{seed}")
    out = []
    for _ in range(n):
        days = rng.randint(1, 27)
        start = rng.randint(0, EVENT_DAYS - days)
        lo = EVENT_START + dt.timedelta(days=start)
        hi = lo + dt.timedelta(days=days)
        h0 = rng.randint(0, 23)
        h1 = rng.randint(h0, 23)
        types = sorted(rng.sample(EVENT_TYPES, rng.randint(1, len(EVENT_TYPES))))
        out.append((lo.strftime("%Y-%m-%d %H:%M:%S"), hi.strftime("%Y-%m-%d %H:%M:%S"),
                    h0, h1, types))
    return out


def registry_order(seed):
    """The slice in the order every pass of this seed runs it."""
    order = REGISTRY_BATCH + REGISTRY_STREAM
    random.Random(f"registry:{seed}").shuffle(order)
    return order


def percentile(values, p):
    """Nearest-rank percentile (`p` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))   # ceil(n * p / 100)
    return xs[int(rank) - 1]


def tail_percentile(n):
    """The highest ladder percentile with at least 10 samples beyond it,
    or None when `n` samples cannot support any."""
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values):
    """(percentile used, value): the tail percentile the sample supports,
    else the maximum (reported as percentile 100)."""
    p = tail_percentile(len(values))
    return (100, max(values)) if p is None else (p, percentile(values, p))


def median(values):
    return statistics.median(values)


def self_times(spans):
    """Self time of each span in seconds: its duration minus its children's.

    `spans` are `[id, parent, name, t0_ns, t1_ns]` rows; returns
    `{id: (name, parent, duration_s, self_s)}`."""
    dur = {s[0]: (s[4] - s[3]) / 1e9 for s in spans}
    child = {s[0]: 0.0 for s in spans}
    for s in spans:
        if s[1] in child:
            child[s[1]] += dur[s[0]]
    return {s[0]: (s[2], s[1], dur[s[0]], dur[s[0]] - child[s[0]]) for s in spans}


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def coverage(spans, root="op"):
    """Share of the root spans' wall time covered by named child layers:
    1 - (root self time / root wall time)."""
    st = self_times(spans)
    roots = [v for v in st.values() if v[0] == root]
    wall = sum(v[2] for v in roots)
    return 1.0 - sum(v[3] for v in roots) / wall if wall > 0 else 0.0


def layer_self_seconds(spans, root="op"):
    """Total self seconds per layer (the part of a span name before the
    first dot), root spans excluded."""
    out = {}
    for name, _, _, self_s in self_times(spans).values():
        if name != root:
            out[layer_of(name)] = out.get(layer_of(name), 0.0) + self_s
    return out
