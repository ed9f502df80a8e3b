"""The workloads: their requests and schedules, all drawn from the seed.

Each search workload has a small list of distinct requests (its pass
list). A run replays the list in passes, each pass a seeded permutation of
it. The follow workload has a seeded, jittered rename schedule instead.
The program sees only the generated HTTP requests and parquet files.

Regexes stay within literals, classes and alternation, where Java's and
RE2's full-match semantics agree (the oracle runs RE2 in DuckDB).
"""
import random
from urllib.parse import quote

DAY_MS = 24 * 3600 * 1000
T0_MS = 1_704_067_200_000  # the fixture's first day, 2024-01-01; it spans 15 days

# The pipeline queries a traced search run times layer by layer:
# eager build jobs and driver time outside jobs (q181), a sidecar landed in
# two steps (q110), and two cheap queries that expose fixed per-request
# overhead (q13, q25).
PIPELINE_QUERIES = [
    "q181_residual_ivfpq", "q110_landed_novelty", "q13_agg", "q25_simhash",
]

WORKLOADS = ("search_export", "search_grep", "follow_tail")
# Clients of the closed-loop workloads; follow_tail is an open loop.
CLIENTS = {"search_export": 1, "search_grep": 2}

FOLLOW_GAP_S = 1.3
FOLLOW_JITTER_S = 0.02
# 1.3 s is 2.6 trigger periods, so five renames in a row land at five
# phases of the 500 ms trigger and the sixth at the first one again.
FOLLOW_PHASES = 5
FOLLOW_RECORDS = 20


def _rng(seed, name):
    return random.Random(f"{seed}:{name}")


def _val_k(pattern):
    """A full-match regex over the fixture's `{"k": n}` values."""
    return '\\{"k": ' + pattern + '\\}'


def search_requests(workload, seed, keys):
    """The pass list of a search workload: a list of option dicts, without
    `bootstrap-servers` (added per set-up, since it names the fixture).
    `keys` are the record keys the grep draws from, ones with similar
    record counts, so runs with different seeds do similar work."""
    r = _rng(seed, workload)
    if workload == "search_export":
        # Parameters vary with the seed while response sizes stay close, so
        # runs with different seeds measure the same amount of work. The
        # last two are small greps (murmur2 partition pruning; key
        # full-match over an alternation within timestamp bounds), so those
        # paths are measured here too. The list has an odd length: a
        # window's median then falls inside one request's cluster of
        # samples rather than in the gap between two.
        tens = "".join(sorted(r.sample("123456789", 8)))
        u1, u2, u3 = r.sample(keys, 3)
        start = T0_MS + r.randint(0, 4) * DAY_MS
        return [
            {"topics": "events"},
            {"topics": "events,clicks"},
            {"topics": "events", "relative-offset": str(-r.randint(3000, 3500))},
            {"topics": "events", "print-offset": str(r.randint(150, 250))},
            {"topics": "events", "val-regex": _val_k(f"[{tens}][0-9]")},
            {"topics": "events", "key-regex": u1, "default-partition": "true"},
            {"topics": "events", "key-regex": f"{u2}|{u3}",
             "start-timestamp": str(start), "stop-timestamp": str(start + 10 * DAY_MS)},
        ]
    assert workload == "search_grep"
    reqs = []
    for _ in range(2):
        u1, u2, u3, u4 = r.sample(keys, 4)
        a, b = r.sample(range(10), 2)
        d1, d2 = r.sample(range(10), 2)
        start = T0_MS + r.randint(0, 4) * DAY_MS
        reqs += [
            {"topics": "events", "key-regex": u1},
            {"topics": "events", "key-regex": u2, "default-partition": "true"},
            {"topics": "events", "partitions": f"{a},{b}",
             "val-regex": _val_k(f"{r.randint(1, 9)}[{d1}{d2}]")},
            {"topics": "events", "key-regex": f"{u3}|{u4}",
             "start-timestamp": str(start), "stop-timestamp": str(start + 10 * DAY_MS)},
            {"topics": "events", "key-regex": u1,
             "relative-offset": str(-r.randint(1800, 2200))},
        ]
    return reqs


def search_path(opts, fixture):
    """The `/search` path for `opts` against the fixture directory."""
    q = {"bootstrap-servers": fixture, **opts}
    return "/search?" + "&".join(f"{k}={quote(v, safe='')}" for k, v in q.items())


def pipeline_path(name):
    return f"/pipeline?name={name}&dir=bench"


def passes(seed, workload, n_items):
    """An endless sequence of passes, each a seeded permutation of
    range(n_items)."""
    r = _rng(seed, workload + ":order")
    while True:
        order = list(range(n_items))
        r.shuffle(order)
        yield order


def follow_batch_count(seconds):
    """The batches a window of `seconds` renames: whole cycles of the
    trigger phases, at least one, so each phase weighs the same in the
    window's percentiles."""
    cycle = FOLLOW_PHASES * FOLLOW_GAP_S
    return FOLLOW_PHASES * max(1, int(seconds / cycle))


def follow_schedule(seed, n, first=0):
    """When renames `first` .. `first+n-1` are due, in seconds after the
    schedule's start: every 1.3 s, out of step with the program's 500 ms
    trigger, each moved by a seeded jitter that does not accumulate, so
    five renames in a row land at five fixed phases of the trigger and
    every run sees the same phases."""
    r = _rng(seed, "follow_tail")
    jitter = [r.uniform(-FOLLOW_JITTER_S, FOLLOW_JITTER_S) for _ in range(first + n)]
    return [(i + 1) * FOLLOW_GAP_S + jitter[first + i] for i in range(n)]
