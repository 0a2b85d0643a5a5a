"""The benchmark's own math: percentiles and the tail rule, the two streaming
latency definitions, result fingerprints and span self time.

Tested by `perfbench/tests/test_stats.py`; the harness's JVM side renders
values with the same canonical forms (checked against
`perfbench/tests/canon_vectors.json` at the start of every run).
"""
import datetime
import decimal
import hashlib
import math
import struct

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated percentile (the numpy default) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def tail(values):
    """The highest ladder percentile that still has at least ten samples
    beyond it. Returns (percentile, value, sample count), or None when there
    are too few samples for any.
    """
    n = len(values)
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= 10.0:
            return p, percentile(values, p), n
    return None


def dws_latency_ms(commit_ms, window_end_ms, watermark_delay_ms):
    """DWS latency of one emitted (window, key) row: sink commit time minus
    the moment the window could first close (its end plus the stream's
    watermark delay). Excludes the window length; includes queueing, trigger
    alignment, every hop and processing.
    """
    return commit_ms - (window_end_ms + watermark_delay_ms)


def dwm_latency_ms(commit_ms, created_a_ms, created_b_ms):
    """DWM latency of one order-wide row: commit time minus the creation time
    of the later of its two inputs.
    """
    return commit_ms - max(created_a_ms, created_b_ms)


def watermark_delay_ms(progress):
    """A stream's watermark delay, read from its progress reports (dicts with
    batch, event_max_ms and watermark_ms; -1 where absent). A watermark that
    advances at a batch is the largest event time seen before that batch
    minus the delay. None when the watermark never advanced.
    """
    seen, last_wm = -1, -1
    for p in sorted(progress, key=lambda p: p["batch"]):
        wm = p["watermark_ms"]
        if wm > last_wm and wm > 0 and seen >= 0:
            return seen - wm
        last_wm = max(last_wm, wm)
        seen = max(seen, p["event_max_ms"])
    return None


def commit_time(file_mtime_ms, trigger_ends_ms):
    """Commit time of a sink file: the end of the first trigger of its query
    that ended at or after the file was written (a file is written inside
    the batch that commits it). `trigger_ends_ms` is sorted. None when no
    trigger ended after the write.
    """
    lo, hi = 0, len(trigger_ends_ms)
    while lo < hi:
        mid = (lo + hi) // 2
        if trigger_ends_ms[mid] < file_mtime_ms:
            lo = mid + 1
        else:
            hi = mid
    return trigger_ends_ms[lo] if lo < len(trigger_ends_ms) else None


# ---- fingerprints -----------------------------------------------------------

def _num(x):
    d = float(x)
    if d == 0.0:
        d = 0.0  # -0.0 and 0.0 are one value
    return "n:%x" % struct.unpack(">Q", struct.pack(">d", d))[0]


_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def canon(v):
    """Canonical text of one result value (null, bool, number, string,
    timestamp as epoch µs, date as epoch days, bytes, list, struct, map).
    Numbers of every type compare as the IEEE double they round to, exactly
    as the oracle comparison does.
    """
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d:%d" % (v - _EPOCH_DATE).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?:" + str(v)


def row_hash(values):
    """Signed 64-bit hash of one row's canonical values (MD5 prefix)."""
    digest = hashlib.md5("\x1f".join(values).encode("utf-8")).digest()
    return struct.unpack(">q", digest[:8])[0]


def fingerprint(columns, rows):
    """(row count, 16-hex-digit hash) of a result: order-independent, and
    equal for equal multisets of rows. Columns are taken in name order.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash([canon(r[i]) for i in order])) & 0xFFFFFFFFFFFFFFFF
    return len(rows), "%016x" % total


# ---- spans ------------------------------------------------------------------

def self_time(start, end, children):
    """A span's duration minus the part of [start, end] its children cover
    (overlapping children are counted once, parts outside the span not at all).
    """
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def self_times(spans):
    """Self time per span id for a list of span dicts (id, parent, start_ms,
    end_ms).
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: self_time(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
            for s in spans}
