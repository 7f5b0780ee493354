"""The seeded assertion mix for ``assert_api`` and its expected outcomes.

Each case is one call a test suite would make — ``validate()``,
``validate.<method>()`` or ``valid()``, some inside ``accepted(...)`` —
over small Python or pandas values or the generated ``orders`` table.
Expected outcomes are computed here in plain Python from the same seeded
values, following the reference library's semantics; they never come
from the package under test.
"""

from __future__ import annotations

import difflib
import random
import re
from collections import Counter

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
         "oscar", "papa", "quebec", "romeo", "sierra", "tango"]


class Case(object):
    def __init__(self, name, call, expected, n_elements):
        self.name = name
        self.call = call            # call(api) -> None / bool / raises
        self.expected = expected    # None, bool, Counter, or {key: Counter}
        self.n_elements = n_elements


def _num(v):
    return round(float(v), 6)


def norm_diff(d):
    def val(a):
        if isinstance(a, bool) or a is None:
            return a
        if isinstance(a, (int, float)):
            return _num(a)
        if isinstance(a, tuple):
            return tuple(val(x) for x in a)
        return str(a)
    return (type(d).__name__,) + tuple(val(a) for a in d.args)


def normalize(differences):
    if isinstance(differences, dict):
        return {str(k): Counter(norm_diff(d) for d in v)
                for k, v in differences.items()}
    return Counter(norm_diff(d) for d in differences)


def _set_diffs(data, required, missing=True, extra=True):
    out = Counter()
    present = set(data)
    if extra:
        out.update(("Extra", x if isinstance(x, str) else _num(x))
                   for x in present - set(required))
    if missing:
        out.update(("Missing", x if isinstance(x, str) else _num(x))
                   for x in set(required) - present)
    return out


def _order_diffs(data, required):
    """The reference's alignment: difflib opcodes from data to the
    requirement; surplus data items are Extra((index, value)), absent
    required items Missing((insertion index in data, value))."""
    out = Counter()
    sm = difflib.SequenceMatcher(None, data, required)
    for tag, i1, i2, j1, j2 in sm.get_opcodes():
        if tag in ("delete", "replace"):
            out.update(("Extra", (_num(i), data[i])) for i in range(i1, i2))
        if tag in ("insert", "replace"):
            out.update(("Missing", (_num(i1), required[j]))
                       for j in range(j1, j2))
    return out


def build_cases(rng: random.Random, orders_path):
    """One cycle: every case once, in a fixed order, with seeded values
    (like a test session, whose order does not change between runs)."""
    cases = []

    # set membership over strings: some required words absent, extras
    req = set(rng.sample(WORDS, 8))
    others = [w for w in WORDS if w not in req]
    data = rng.sample(sorted(req), 6) * 3 + rng.sample(others, 2)
    rng.shuffle(data)
    cases.append(Case("set", lambda api, d=list(data), r=set(req):
                      api.validate(d, r), _set_diffs(data, req), len(data)))

    # set over a pandas Series of ints
    reqi = set(range(0, 40, 2))
    ints = [rng.randrange(0, 40, 2) for _ in range(200)] + [41, 43]
    cases.append(Case("set_series",
                      lambda api, d=list(ints), r=set(reqi):
                      api.validate(api.pd.Series(d), r),
                      _set_diffs(ints, reqi), len(ints)))

    # subset / superset
    sub = rng.sample(sorted(req), 5) + [others[0]]
    cases.append(Case("subset", lambda api, d=list(sub), r=set(req):
                      api.validate.subset(d, r),
                      _set_diffs(sub, req, missing=False), len(sub)))
    sup = rng.sample(sorted(req), 6)
    cases.append(Case("superset", lambda api, d=list(sup), r=set(req):
                      api.validate.superset(d, r),
                      _set_diffs(sup, req, extra=False), len(sup)))

    # per-group mapping of sets
    groups = {}
    expected_map = {}
    for g in ("g1", "g2", "g3"):
        want = set(rng.sample(WORDS, 4))
        have = rng.sample(sorted(want), 3) + [rng.choice(
            [w for w in WORDS if w not in want])]
        groups[g] = have
        diffs = _set_diffs(have, want)
        expected_map[g] = (want, diffs)
    cases.append(Case(
        "mapping_sets",
        lambda api, d={g: list(v) for g, v in groups.items()},
        r={g: set(w) for g, (w, _x) in expected_map.items()}:
        api.validate(d, r),
        {g: x for g, (_w, x) in expected_map.items() if x},
        sum(len(v) for v in groups.values())))

    # callable predicate (the vectorized UDF path)
    limit = 50
    nums = [rng.randrange(0, limit) for _ in range(100)]
    for i in rng.sample(range(len(nums)), 3):
        nums[i] = limit + rng.randrange(1, 20)
    cases.append(Case(
        "predicate",
        lambda api, d=list(nums): api.validate(d, lambda v: v < 50),
        Counter(("Invalid", _num(v)) for v in nums if not v < limit),
        len(nums)))

    # regex
    words = ["{0}{1}".format(rng.choice(WORDS), rng.randrange(10))
             for _ in range(60)]
    for i in rng.sample(range(len(words)), 2):
        words[i] = words[i][:-1]
    rx = r"^[a-z]+\d$"
    cases.append(Case(
        "regex",
        lambda api, d=list(words): api.validate.regex(d, rx),
        Counter(("Invalid", w) for w in words if not re.search(rx, w)),
        len(words)))

    # interval over floats
    lo, hi = 0.0, 100.0
    fl = [round(rng.uniform(lo, hi), 3) for _ in range(80)]
    fl[rng.randrange(len(fl))] = 130.5
    fl[rng.randrange(len(fl))] = -4.25
    cases.append(Case(
        "interval",
        lambda api, d=list(fl): api.validate.interval(d, lo, hi),
        Counter(("Deviation", _num(v - (lo if v < lo else hi)),
                 _num(lo if v < lo else hi))
                for v in fl if v < lo or v > hi),
        len(fl)))

    # approx
    target = 2.0
    ap = [target + rng.choice([-1, 1]) * rng.uniform(0, 0.004)
          for _ in range(30)] + [target + 0.75]
    cases.append(Case(
        "approx",
        lambda api, d=list(ap): api.validate.approx(d, target, places=2),
        Counter(("Deviation", _num(v - target), _num(target))
                for v in ap if round(abs(v - target), 2) != 0),
        len(ap)))

    # unique: one extra per surplus occurrence
    un = rng.sample(WORDS, 10)
    un = un + [un[0], un[3], un[3]]
    rng.shuffle(un)
    surplus = Counter(un) - Counter(set(un))
    cases.append(Case(
        "unique", lambda api, d=list(un): api.validate.unique(d),
        Counter(("Extra", w) for w in surplus.elements()), len(un)))

    # order (reference difflib alignment)
    seq = rng.sample(WORDS, 8)
    got = list(seq)
    i = rng.randrange(len(got) - 1)
    got[i], got[i + 1] = got[i + 1], got[i]
    cases.append(Case(
        "order", lambda api, d=list(got), r=list(seq):
        api.validate.order(d, r), _order_diffs(got, seq), len(got)))

    # valid(): a failing boolean check
    cases.append(Case("valid_false", lambda api, d=list(data), r=set(req):
                      api.valid(d, r), False, len(data)))

    # accepted(Missing): only the extras remain
    cases.append(Case(
        "accepted_missing",
        lambda api, d=list(data), r=set(req): api.accept_missing(d, r),
        _set_diffs(data, req, missing=False), len(data)))

    # the generated orders table, read as Spark DataFrames
    import pandas as pd

    odf = pd.read_parquet(orders_path)
    n = len(odf)
    st = list(odf["o_orderstatus"])
    cases.append(Case(
        "orders_status_set",
        lambda api: api.validate(api.orders().select("o_orderstatus"),
                                 {"F", "O", "P"}),
        _set_diffs(st, {"F", "O", "P"}), n))
    return cases
