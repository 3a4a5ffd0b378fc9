"""Summary statistics and integrity checks shared by every workload."""
import hashlib
import math
import statistics


def percentile(samples, q):
    """Nearest-rank q-quantile (0 < q < 1), or None unless at least 10
    samples lie above it: a p99 needs >= 1000 samples, a p50 >= 20."""
    n = len(samples)
    if n == 0 or n * (1.0 - q) < 10 - 1e-9:
        return None
    s = sorted(samples)
    return s[min(n, math.ceil(q * n)) - 1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    """Seconds covered by the union of (start_us, end_us) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class ChainVerifier:
    """Folds the SHA-256 chain over bodies as a reader delivers them
    and checks seq_nums arrive contiguous from 0. A dropped, duplicated
    or reordered record breaks either the chain or the sequence, so
    `verify` against the generator's chain catches it."""

    def __init__(self):
        self.h = b""
        self.next_seq = 0
        self.records = 0
        self.in_order = True

    def add(self, seq, body):
        if seq != self.next_seq:
            self.in_order = False
        self.next_seq = seq + 1
        self.h = hashlib.sha256(self.h + body).digest()
        self.records += 1

    def verify(self, expected_chain, expected_records):
        return (self.in_order and self.records == expected_records
                and self.h.hex() == expected_chain)


def self_times(spans, children):
    """Self time per span name: each span's duration minus the part of
    it that its child spans (and child Spark jobs) cover. `spans` are
    dicts with id/name/start/end; `children` maps a span id to a list
    of (start_us, end_us)."""
    out = {}
    for s in spans:
        covered = union_s(clip(children.get(s["id"], []), s["start"], s["end"]))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1e6 - covered
    return out
