"""Output checkers. Each returns a list of problems; an empty list passes.

They compare what the program produced with what is computed here, from
the generated inputs alone (pub/sub) or by DuckDB from the same parquet
(queries).
"""
import math

import numpy as np

FLOAT_REL_TOL = 1e-9


def fizz_buzz(n):
    if n % 15 == 0:
        return "FIZZBUZZ"
    if n % 5 == 0:
        return "BUZZ"
    if n % 3 == 0:
        return "FIZZ"
    return "NUMBER"


def check_acked_sends(numbers, acks, roots, classes):
    """`acks` holds (input index, event id, collector size at return) per
    sendSync, in call order; `roots`/`classes` are what the collector saw,
    in arrival order."""
    bad = []
    if len(roots) != len(acks) or len(classes) != len(acks):
        bad.append(f"collector holds {len(roots)} events for {len(acks)} sends")
    for k, (idx, eid, seen) in enumerate(acks):
        if idx != k or eid != k:
            bad.append(f"send {k}: input {idx}, id {eid}; ids must be dense "
                       "and in send order")
            break
        if seen < k + 1:
            bad.append(f"sendSync({k}) returned before the collector held "
                       f"its derived event ({seen} collected)")
            break
    for k in range(min(len(roots), len(acks))):
        if roots[k] != acks[k][1]:
            bad.append(f"collected event {k} derives from {roots[k]}, "
                       f"expected {acks[k][1]} (causal order)")
            break
        want = fizz_buzz(numbers[acks[k][0]])
        if classes[k] != want:
            bad.append(f"event {k}: class {classes[k]} for "
                       f"{numbers[acks[k][0]]}, expected {want}")
            break
    return bad


def check_fanout(bulk, starts, subscribers):
    """`subscribers` holds, per bulk subscriber, (ids delivered in
    order, delivered count, payload sum)."""
    bad = []
    b = len(bulk)
    for j in range(1, len(starts)):
        if starts[j] != starts[j - 1] + b:
            bad.append(f"postBatch {j} starts at {starts[j]}, "
                       f"expected {starts[j - 1] + b}")
    want = (np.concatenate([np.arange(s, s + b) for s in starts])
            if starts else np.zeros(0, np.int64))
    want_sum = len(starts) * int(np.sum(np.asarray(bulk, np.int64)))
    for k, (ids, count, total) in enumerate(subscribers):
        ids = np.asarray(ids, np.int64)
        if len(ids) != len(want) or count != len(want):
            bad.append(f"subscriber {k}: {len(ids)} deliveries, "
                       f"expected {len(want)}")
        elif not np.array_equal(ids, want):
            at = int(np.argmax(ids != want))
            bad.append(f"subscriber {k}: delivery {at} is id {ids[at]}, "
                       f"expected {want[at]} (each id once, in order)")
        if total != want_sum:
            bad.append(f"subscriber {k}: payload sum {total}, "
                       f"expected {want_sum}")
    return bad


def check_totals(name, got, want):
    """Two counts of the same rows reached by independent paths."""
    return [] if got == want else [f"{name}: {got} != {want}"]


def _is_float(v):
    return isinstance(v, float)


def _key(row):
    return tuple((1, "%.6g" % v) if _is_float(v) else (0, str(v)) for v in row)


def _close(a, b):
    if _is_float(a) or _is_float(b):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= FLOAT_REL_TOL * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def check_result(name, got_cols, got_rows, want_cols, want_rows):
    """Compare a query result with its oracle: same column names, same
    multiset of rows; floats equal within FLOAT_REL_TOL."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    order = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    gi = [got_cols.index(want_cols[i]) for i in order]
    got = sorted((tuple(r[i] for i in gi) for r in got_rows), key=_key)
    want = sorted((tuple(r[i] for i in order) for r in want_rows), key=_key)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    for k, (g, w) in enumerate(zip(got, want)):
        if not all(_close(x, y) for x, y in zip(g, w)):
            return [f"{name}: row {k} is {g}, oracle has {w}"]
    return []
