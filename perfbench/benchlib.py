"""Pure helpers of the benchmark: workload sizes, seeded query streams,
percentiles, span arithmetic and the final stdout record. No I/O beyond
hashing source files, so tests/test_benchlib.py covers them directly."""

import hashlib
import json
import math
import random

# Epoch-nanos start of the generated event log, which spans 30 days
# (Data.scala).
TS_START_NS = 1704067200000000000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# Workload sizes. serve-small sits far below the engine's 32 MB routing gate
# and scan-large clearly above it (sized by bytes on disk: five 64-bit
# tokens per row in `props` keep the layout from compressing below the
# gate); run.py checks both sides in every run. `block` is the stream's
# block length: one query per shape, and runs measure whole blocks.
WORKLOADS = {
    "serve-small": {
        "rows": 50_000, "groups": 2_000, "parts": 4, "prop_tokens": 0,
        "clients": 2, "block": 8, "setup_reps": 3, "heap": "2g",
    },
    "scan-large": {
        "rows": 800_000, "groups": 40_000, "parts": 8, "prop_tokens": 5,
        "clients": 1, "block": 7, "setup_reps": 3, "heap": "3g",
    },
    "ops-battery": {
        "rows": 20_000, "groups": 1_500, "parts": 2, "prop_tokens": 0,
        "clients": 1, "block": 1, "setup_reps": 1, "heap": "2g",
    },
}

# ops-battery rows: one oracle-checked SparkEntry row per family, chosen to
# reach the operators (SequenceMatch, Dedup, Ann, TextAnalysis, Multimodal),
# the functions package (VectorFunctions via Ann, ScrubFunctions) and the
# streaming package, without writing fixtures outside the run's directory.
BATTERY_ROWS = [
    "fr_funnel_step_agg_routed", "dd_exact", "ann_topk", "emb_centroids", "tx_quality",
    "st_scrub", "pipeline_clean", "q_rolling", "mm_features",
]

FAMILIES = ["fr", "dd", "ann", "tx", "st", "pipeline", "q", "mm", "emb"]


def family(row):
    """Battery family of a SparkEntry row name (q1_pricing -> q)."""
    head = row.split("_", 1)[0]
    return "q" if head.startswith("q") else head


# ---------------------------------------------------------------- queries

def _q(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _filter(rng):
    kind = rng.random()
    if kind < 0.6:
        return ["event_type", "==", rng.choice(EVENT_TYPES)]
    if kind < 0.8:
        return ["value", ">", round(rng.uniform(20, 540), 2)]
    return ["event_type", "!=", rng.choice(EVENT_TYPES)]


def _step(rng):
    return {"filter": ["event_type", "==", rng.choice(EVENT_TYPES)]}


def _timeframe(rng, min_days=3, max_days=20):
    days = rng.randint(min_days, max_days)
    start = rng.randint(0, 30 - days)
    return {"from": TS_START_NS + start * 86400 * 10**9,
            "to": TS_START_NS + (start + days) * 86400 * 10**9}


def _per_value_aggs(rng):
    return [{"column": "event_type", "type": "countPerValue", "top": rng.randint(2, 5)},
            {"column": "props", "type": "sumPerValue", "otherColumn": "value",
             "top": rng.randint(3, 10)}]


SMALL_SHAPES = ["empty", "count_target", "sum_target", "or_relation", "sequence",
                "funnel", "per_value", "timeframe"]


def small_query(shape, rng):
    """One serve-small query of `shape` with seeded literals."""
    if shape == "empty":
        return {}
    if shape == "count_target":
        return {"query": {"conditions": [{"filter": _filter(rng),
                                          "target": ["count", rng.choice([">=", ">", "=="]),
                                                     rng.randint(1, 6)]}],
                          "aggregations": [{"column": "user_id", "type": "count"}]}}
    if shape == "sum_target":
        return {"query": {"conditions": [{"filter": ["event_type", "==", rng.choice(EVENT_TYPES)],
                                          "target": ["sum", "value", ">", rng.randint(100, 1500)]}]}}
    if shape == "or_relation":
        return {"query": {"relation": "$a || $b", "conditions": [
            {"name": "a", "filter": _filter(rng), "target": ["count", ">=", rng.randint(2, 6)]},
            {"name": "b", "filters": [["event_type", "==", rng.choice(EVENT_TYPES)],
                                      ["value", ">", round(rng.uniform(100, 500), 2)]]}]}}
    if shape == "sequence":
        cond = {"sequence": [_step(rng) for _ in range(rng.randint(2, 3))]}
        if rng.random() < 0.5:
            cond["maxDuration"] = rng.randint(1, 10) * 86400 * 10**9
        return {"query": {"conditions": [cond]}}
    if shape == "funnel":
        return {"funnel": {"sequence": [_step(rng) for _ in range(3)],
                           "stepAggregations": [{"column": "event_type", "type": "countPerValue"}],
                           "endAggregations": [{"column": "props", "type": "meanPerValue",
                                                "otherColumn": "value", "top": 5}]}}
    if shape == "per_value":
        return {"query": {"conditions": [{"filter": _filter(rng)}],
                          "aggregations": _per_value_aggs(rng)}}
    if shape == "timeframe":
        return {"timeframe": _timeframe(rng),
                "query": {"conditions": [{"filter": _filter(rng)}]}}
    raise ValueError(shape)


def serve_small_stream(seed, n):
    """Warm-up list (one query per shape) and an n-long stream built in
    blocks of one slot per shape, in seeded order. The empty query is
    always a repeat; in each block three more seeded slots repeat an
    earlier query of their shape, so half the requests repeat (the
    dashboard-refresh regime) and the rest are fresh seeded queries. Repeats
    may pick a warm-up query, which the server has also answered before.
    The shape mix is the same for every seed, so latencies compare across
    seeds."""
    rng = random.Random(f"serve-small/{seed}")
    warm = [_q(small_query(s, rng)) for s in SMALL_SHAPES]
    stream, shapes, by_shape = [], [], {s: [q] for s, q in zip(SMALL_SHAPES, warm)}
    while len(stream) < n:
        order = SMALL_SHAPES[:]
        rng.shuffle(order)
        repeat_slots = set(rng.sample([i for i, s in enumerate(order) if s != "empty"], 3))
        for slot, shape in enumerate(order):
            if slot in repeat_slots:
                q = rng.choice(by_shape[shape])
            else:
                q = _q(small_query(shape, rng))
                by_shape[shape].append(q)
            stream.append(q)
            shapes.append(shape)
    return warm, stream[:n], shapes[:n]


LARGE_SHAPES = ["empty", "count_target", "funnel3", "funnel3_step_aggs",
                "sequence6_aggs", "count_per_value_topk", "timeframe"]


def large_query(shape, rng):
    """One scan-large query of `shape` with seeded literals."""
    if shape == "empty":
        return {}
    if shape == "count_target":
        return {"query": {"conditions": [{"filter": ["event_type", "==", rng.choice(EVENT_TYPES)],
                                          "target": ["count", ">=", rng.randint(3, 8)]}]}}
    if shape == "funnel3":
        return {"funnel": {"sequence": [_step(rng) for _ in range(3)]}}
    if shape == "funnel3_step_aggs":
        return {"funnel": {"sequence": [_step(rng) for _ in range(3)],
                           "stepAggregations": [{"column": "event_type", "type": "countPerValue"},
                                                {"column": "value", "type": "count"}]}}
    if shape == "sequence6_aggs":
        return {"query": {"conditions": [{"sequence": [_step(rng) for _ in range(6)]}],
                          "aggregations": [{"column": "event_type", "type": "countPerValue"},
                                           {"column": "user_id", "type": "count"}]}}
    if shape == "count_per_value_topk":
        return {"query": {"aggregations": [{"column": "props", "type": "countPerValue",
                                            "top": rng.randint(5, 20)}]}}
    if shape == "timeframe":
        return {"timeframe": _timeframe(rng, 1, 3),
                "query": {"conditions": [{"filter": ["event_type", "==", rng.choice(EVENT_TYPES)]}],
                          "aggregations": [{"column": "event_type", "type": "countPerValue"}]}}
    raise ValueError(shape)


def scan_large_stream(seed, passes):
    """One seeded instance of every shape, repeated in a seeded order per
    pass (block); the warm-up runs each of them once (JIT, codegen,
    footers), so timed passes are warm."""
    rng = random.Random(f"scan-large/{seed}")
    queries = {s: _q(large_query(s, rng)) for s in LARGE_SHAPES}
    stream, shapes = [], []
    for _ in range(passes):
        order = LARGE_SHAPES[:]
        rng.shuffle(order)
        stream += [queries[s] for s in order]
        shapes += order
    return [queries[s] for s in LARGE_SHAPES], stream, shapes


def stream_properties(stream, shapes, executed, warm=()):
    """Repeat share (of queries already sent, warm-up included) and shape
    mix of the first `executed` requests."""
    seen, repeats, mix = set(warm), 0, {}
    for q, s in zip(stream[:executed], shapes[:executed]):
        repeats += q in seen
        seen.add(q)
        mix[s] = mix.get(s, 0) + 1
    return {"requests": executed, "distinct": len(seen),
            "repeat_share": repeats / executed if executed else 0.0,
            "shape_mix": dict(sorted(mix.items()))}


# ---------------------------------------------------------------- statistics

def mean(values):
    return sum(values) / len(values) if values else 0.0


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no values")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def _rank(n, p):
    # Rounded first, so that 99.9% of 10000 is rank 9990, not 9991.
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    return v[_rank(len(v), p) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def supported(n, p, min_beyond=10):
    """True when the p-th percentile of n samples has at least `min_beyond`
    samples beyond it (the rule for reporting a tail percentile)."""
    return beyond(n, p) >= min_beyond


def _betacf(a, b, x):
    # Continued fraction of the incomplete beta function (modified Lentz).
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(values, p):
    """Harrell-Davis estimate of the p-th quantile (0 < p < 1): a weighted
    average of all order statistics, with Beta(p(n+1), (1-p)(n+1)) weights.
    On the few dozen samples a run yields it varies less from run to run
    than the single order statistic a sample quantile picks."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("quantile of no values")
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(v))


def highest_supported_percentile(n, min_beyond=10, candidates=(99.9, 99, 95, 90, 75, 50)):
    for p in candidates:
        if supported(n, p, min_beyond):
            return p
    return None


# ---------------------------------------------------------------- spans

def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children's spans cover (children clipped to the parent)."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in by_id.items():
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                for c in children.get(sid, []) if c["end_ms"] > lo and c["start_ms"] < hi]
        out[sid] = (hi - lo) - union_ms(kids)
    return out


def layer_self_times(spans):
    """Self time summed per span name (layer), in ms."""
    st = self_times(spans)
    totals = {}
    for s in spans:
        totals[s["name"]] = totals.get(s["name"], 0.0) + st[s["id"]]
    return totals


# ---------------------------------------------------------------- output

# The end-to-end record must survive a 2,000-character stdout tail; the
# traced record carries every per-layer metric and is allowed more.
RECORD_MAX_BYTES = 1536
TRACE_RECORD_MAX_BYTES = 4096


def final_record(correct, attempted, failed, metrics, max_bytes=RECORD_MAX_BYTES):
    """The one-line stdout record: exactly correct/attempted/failed/metrics,
    every metric with its unit, within `max_bytes`."""
    line = json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed),
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))
    if len(line.encode()) > max_bytes:
        raise ValueError(f"final record is {len(line.encode())} bytes, over {max_bytes}")
    return line


def sources_digest(paths):
    """sha256 over (path, content) of the given files, in sorted order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
