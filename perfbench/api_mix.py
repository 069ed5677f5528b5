"""The datatest-API call mix and its pure-Python oracle.

``build_specs(sample, seed)`` turns rows of a generated table into a fixed,
seeded list of pytest-style calls on 10^2..10^3-element lists and dicts:
``validate.interval``, ``validate.set``, ``validate.unique``, mapping
validation, a regex predicate and a type predicate, some under
``accepted(...)`` context managers. ``call(spec)`` runs one through the
engine and returns the differences it raised (None if it raised nothing);
``expected(spec)`` computes the same answer in plain Python, from the
documented datatest semantics, without touching Spark.
"""

from __future__ import annotations

import random
import re
from collections import Counter

KINDS = ("interval", "set", "unique", "mapping", "regex", "type")
DOC_ID_PATTERN = r"^d\d{11}[0-4]$"


def build_specs(sample, seed, n=36):
    from datatest_spark.sources.synth import ALLOWED_SOURCES

    rng = random.Random(seed)
    specs = []
    for i in range(n):
        kind = KINDS[i % len(KINDS)]
        size = rng.randint(100, 1000)
        start = rng.randrange(0, len(sample) - size)
        rows = sample[start:start + size]
        ids = [r[0] for r in rows]
        lens = [r[1] for r in rows]
        sources = [r[2] for r in rows]
        spec = {"kind": kind, "rows": size, "accept": None}
        if kind == "interval":
            vals = sorted(v for v in lens if v is not None)
            spec.update(data=lens, lo=vals[len(vals) // 20],
                        hi=vals[-1 - len(vals) // 20])
            spec["accept"] = rng.choice([None, ["tolerance", rng.choice([1, 5, 50])]])
        elif kind == "set":
            required = sorted(ALLOWED_SOURCES)
            required.remove(rng.choice(required))
            spec.update(data=sources, required=required)
            spec["accept"] = rng.choice([None, ["missing"]])
        elif kind == "unique":
            # null ids stay out: the driver-side count() budget orders a None
            # value as the string 'None' where the distributed form (and the
            # documented stable order) puts nulls last
            spec.update(data=[v for v in ids if v is not None])
            spec["accept"] = rng.choice([None, ["count", rng.randint(1, 5)]])
        elif kind == "mapping":
            have = Counter(sources)
            req = {}
            for s in ALLOWED_SOURCES:
                req[s] = max(1, have.get(s, 0) + rng.choice([-2, 0, 0, 3]))
            spec.update(data=dict(sorted(have.items())), required=req)
            spec["accept"] = rng.choice([None, ["tolerance", 2]])
        elif kind == "regex":
            spec.update(data=ids)
        else:
            spec.update(data=lens)
        specs.append(spec)
    return specs


# -- the engine side ---------------------------------------------------------

def acceptance(spec):
    from datatest_spark import Missing, accepted

    acc = spec["accept"]
    if acc is None:
        return None
    if acc[0] == "tolerance":
        return accepted.tolerance(acc[1])
    if acc[0] == "missing":
        return accepted(Missing)
    return accepted.count(acc[1])


def requirement(spec):
    """The requirement object the engine's validate call compiles."""
    from datatest_spark.requirements import (
        RequiredInterval, RequiredPredicate, RequiredSet, RequiredUnique,
        get_requirement,
    )

    kind = spec["kind"]
    if kind == "interval":
        return RequiredInterval(spec["lo"], spec["hi"])
    if kind == "set":
        return RequiredSet(spec["required"])
    if kind == "unique":
        return RequiredUnique()
    if kind == "mapping":
        return get_requirement(spec["required"])
    if kind == "regex":
        return RequiredPredicate(re.compile(DOC_ID_PATTERN))
    return get_requirement(int)


def frame_args(spec):
    """(rows, column names, violations() keyword args) for building the
    input frame the way ``validate`` normalizes it."""
    if spec["kind"] == "mapping":
        rows = list(spec["data"].items())
        return rows, ["key", "value"], {"columns": ["key", "value"],
                                        "group_col": "key"}
    return [(v,) for v in spec["data"]], ["value"], {"columns": ["value"]}


def _invoke(spec):
    from datatest_spark import validate

    kind, data = spec["kind"], spec["data"]
    if kind == "interval":
        validate.interval(data, spec["lo"], spec["hi"])
    elif kind == "set":
        validate.set(data, set(spec["required"]))
    elif kind == "unique":
        validate.unique(data)
    elif kind == "mapping":
        validate(data, spec["required"])
    elif kind == "regex":
        validate.regex(data, DOC_ID_PATTERN)
    else:
        validate(data, int)


def call(spec):
    from datatest_spark import ValidationError

    acc = acceptance(spec)
    try:
        if acc is None:
            _invoke(spec)
        else:
            with acc:
                _invoke(spec)
    except ValidationError as exc:
        return exc.differences
    return None


# -- the pure-Python oracle ---------------------------------------------------

def raw_differences(spec):
    """Differences before any acceptance, as the datatest reference defines
    them for each call kind."""
    from datatest_spark import Deviation, Extra, Invalid, Missing

    kind, data = spec["kind"], spec["data"]
    if kind == "interval":
        lo, hi = spec["lo"], spec["hi"]
        out = []
        for v in data:
            if v is None:
                out.append(Invalid(None, hi))
            elif v < lo:
                out.append(Deviation(v - lo, lo))
            elif v > hi:
                out.append(Deviation(v - hi, hi))
        return out
    if kind == "set":
        present = set(data)
        required = set(spec["required"])
        return ([Extra(v) for v in present - required]
                + [Missing(v) for v in required - present])
    if kind == "unique":
        return [Extra(v) for v, n in Counter(data).items() for _ in range(n - 1)]
    if kind == "mapping":
        req = spec["required"]
        out = {}
        for k in set(data) | set(req):
            if k not in req:
                out[k] = [Extra(data[k])]
            elif k not in data:
                out[k] = [Deviation(-req[k], req[k])]
            elif data[k] != req[k]:
                out[k] = [Deviation(data[k] - req[k], req[k])]
        return out
    if kind == "regex":
        rx = re.compile(DOC_ID_PATTERN)
        return [Invalid(v) for v in data if v is None or not rx.search(v)]
    return [Invalid(v) for v in data if not isinstance(v, int)]


def _accept(spec, diffs):
    from datatest_spark import Deviation, Missing

    acc = spec["accept"]
    if acc is None:
        return diffs
    if acc[0] == "tolerance":
        t = acc[1]
        keep = lambda d: not (isinstance(d, Deviation) and -t <= d.deviation <= t)
    elif acc[0] == "missing":
        keep = lambda d: not isinstance(d, Missing)
    else:
        # count(k): absorb the first k differences in value order (the
        # unique call only yields Extra(value) differences, never of None)
        ranked = sorted(diffs, key=lambda d: d.args[0])
        return ranked[acc[1]:]
    if isinstance(diffs, dict):
        return dict((k, [d for d in v if keep(d)]) for k, v in diffs.items())
    return [d for d in diffs if keep(d)]


def expected(spec):
    return _accept(spec, raw_differences(spec))


def normalize(diffs):
    """Order-free form for comparison: a Counter, or {key: Counter} with
    empty keys dropped; None and empty collapse to {}."""
    if not diffs:
        return {}
    if isinstance(diffs, dict):
        return dict((k, Counter(v)) for k, v in diffs.items() if v)
    return Counter(diffs)


def mismatch(spec, got):
    """None when the engine's differences equal the oracle's, else a short
    description of the disagreement."""
    want = normalize(expected(spec))
    have = normalize(got)
    if want == have:
        return None
    return "{0}: engine {1!r} oracle {2!r}".format(
        spec["kind"], have, want)[:400]
