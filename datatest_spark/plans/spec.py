"""Declarative validation-suite specs (JSON-friendly dicts -> ValidationSuite).

The reference engine's suites are Python code; at fleet scale the same
suite definition must travel through config repos, review diffs, and
job parameters.  This module maps a plain JSON-able dict onto the exact
check / acceptance objects of :mod:`datatest_spark.plans.suite`, so a
suite can be versioned as data and built identically on any driver::

    spec = {
        "partition_cols": ["source"],
        "stats_columns": ["doc_id", "tokens", "n_tok", "source"],
        "checks": [
            {"type": "schema_conformance",
             "fields": [{"name": "doc_id", "type": "string"},
                        {"name": "tokens", "type": "array<int>"},
                        {"name": "n_tok", "type": "int"},
                        {"name": "source", "type": "string"}]},
            {"type": "null_rate", "max_null_rate": {"doc_id": 0.01}},
            {"type": "uniqueness", "column": "doc_id"},
            {"type": "referential", "column": "source",
             "allowed": ["web", "books", "code"]},
            {"type": "drift", "baseline": "@baseline"},
        ],
        "acceptances": [
            {"type": "count", "number": 5},
        ],
    }
    suite = suite_from_spec(spec, dataframes={"baseline": baseline_df})

Design rules:

* Pure data in, existing objects out — no new check semantics live
  here, so spec-built and code-built suites are bitwise the same plan.
* DataFrame-valued parameters (drift baselines, token-equality
  reference tables) cannot be serialized; a spec references them as
  ``"@name"`` strings resolved through the ``dataframes`` mapping.
  An unresolved reference is a loud ``SpecError``, never a silent skip
  (a drift monitor that silently dropped its baseline would read as
  "no drift anywhere").
* Column types are parsed by a small local grammar (atomic names plus
  ``array<...>`` / ``map<k,v>``) so spec loading needs no live
  SparkSession and stays deterministic under test.
* Acceptance predicates must be declarative: ``keys`` accepts an
  ``in`` list (set membership), not arbitrary callables — a JSON file
  cannot carry a closure, and eval()-ing one would be an injection
  hole.  Callers needing callable predicates build the suite in code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["SpecError", "suite_from_spec", "suite_from_spec_file",
           "CHECK_BUILDERS", "ACCEPTANCE_BUILDERS"]


class SpecError(ValueError):
    """A structurally invalid suite spec (unknown type, bad ref, ...)."""


# -- type grammar ----------------------------------------------------------

_ATOMIC_TYPES = {
    "string": T.StringType,
    "boolean": T.BooleanType,
    "bool": T.BooleanType,
    "byte": T.ByteType,
    "tinyint": T.ByteType,
    "short": T.ShortType,
    "smallint": T.ShortType,
    "int": T.IntegerType,
    "integer": T.IntegerType,
    "long": T.LongType,
    "bigint": T.LongType,
    "float": T.FloatType,
    "double": T.DoubleType,
    "date": T.DateType,
    "timestamp": T.TimestampType,
    "binary": T.BinaryType,
}


def _parse_type(s):
    """Parse ``string`` / ``array<int>`` / ``map<string,double>`` without a
    SparkSession.  Nested structs are out of scope for specs (the input
    table is flat by contract, schema.py INPUT_SCHEMA)."""
    s = s.strip().lower()
    if s in _ATOMIC_TYPES:
        return _ATOMIC_TYPES[s]()
    if s.startswith("array<") and s.endswith(">"):
        return T.ArrayType(_parse_type(s[len("array<"):-1]))
    if s.startswith("map<") and s.endswith(">"):
        inner = s[len("map<"):-1]
        depth, split_at = 0, -1
        for i, ch in enumerate(inner):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif ch == "," and depth == 0:
                split_at = i
                break
        if split_at < 0:
            raise SpecError("map type needs two comma-separated args: %r" % s)
        return T.MapType(_parse_type(inner[:split_at]),
                         _parse_type(inner[split_at + 1:]))
    raise SpecError(
        "unknown column type %r (atomic names, array<...>, map<k,v>)" % s
    )


def _parse_fields(fields):
    out = []
    for f in fields:
        if "name" not in f or "type" not in f:
            raise SpecError("schema field needs 'name' and 'type': %r" % (f,))
        out.append(T.StructField(f["name"], _parse_type(f["type"]),
                                 bool(f.get("nullable", True))))
    return T.StructType(out)


# -- @ref resolution -------------------------------------------------------

def _resolve_df(value, dataframes, param):
    """``"@name"`` -> dataframes['name']; DataFrames pass through (the
    caller may hand a spec dict that already embeds live frames)."""
    if isinstance(value, DataFrame):
        return value
    if isinstance(value, str) and value.startswith("@"):
        name = value[1:]
        if not dataframes or name not in dataframes:
            raise SpecError(
                "spec references DataFrame '@%s' for %s but "
                "dataframes=%r does not provide it" % (name, param,
                                                       sorted(dataframes or []))
            )
        return dataframes[name]
    raise SpecError(
        "%s must be a '@name' DataFrame reference (got %r)" % (param, value)
    )


def _pair(value, what):
    """JSON has no tuples; bounds arrive as 2-lists (entries nullable)."""
    if (not isinstance(value, (list, tuple))) or len(value) != 2:
        raise SpecError("%s must be a [lower, upper] pair, got %r"
                        % (what, value))
    return (value[0], value[1])


# -- check builders --------------------------------------------------------
# Each builder receives the check's spec minus "type", already checked
# against the known keys listed next to it in CHECK_BUILDERS (specs stay
# sparse; check defaults rule).

def _build_schema_conformance(spec, dataframes):
    from ..operators.checks import SchemaConformanceCheck

    if "fields" not in spec:
        raise SpecError("schema_conformance needs 'fields'")
    return SchemaConformanceCheck(_parse_fields(spec["fields"]))


def _build_null_rate(spec, dataframes):
    from ..operators.checks import NullRateCheck

    if not isinstance(spec.get("max_null_rate"), dict):
        raise SpecError("null_rate needs a 'max_null_rate' {column: rate}")
    return NullRateCheck(spec["max_null_rate"])


def _build_stat_interval(spec, dataframes):
    from ..operators.checks import StatIntervalCheck

    bounds = spec.get("bounds")
    if not isinstance(bounds, dict):
        raise SpecError("stat_interval needs 'bounds' {stat: [lo, hi]}")
    return StatIntervalCheck({
        k: _pair(v, "stat_interval bound %r" % k) for k, v in bounds.items()
    })


def _build_uniqueness(spec, dataframes):
    from ..operators.checks import UniquenessCheck

    return UniquenessCheck(**spec)


def _build_referential(spec, dataframes):
    from ..operators.checks import ReferentialCheck

    return ReferentialCheck(**spec)


def _build_consistency(spec, dataframes):
    from ..operators.checks import ConsistencyCheck

    return ConsistencyCheck(**spec)


def _build_length_bound(spec, dataframes):
    from ..operators.checks import LengthBoundCheck

    return LengthBoundCheck(**spec)


def _build_token_range(spec, dataframes):
    from ..operators.checks import TokenRangeCheck

    return TokenRangeCheck(**spec)


def _build_token_boundary(spec, dataframes):
    from ..operators.checks import TokenBoundaryCheck

    return TokenBoundaryCheck(**spec)


def _build_token_equality(spec, dataframes):
    from ..operators.checks import TokenEqualityCheck

    kw = dict(spec)
    ref = _resolve_df(kw.pop("reference", None), dataframes,
                      "token_equality.reference")
    return TokenEqualityCheck(ref, **kw)


def _build_freshness(spec, dataframes):
    from ..operators.checks import FreshnessCheck

    return FreshnessCheck(**spec)


def _build_functional_dependency(spec, dataframes):
    from ..operators.checks import FunctionalDependencyCheck

    if "determinant" not in spec or "dependent" not in spec:
        raise SpecError("functional_dependency needs 'determinant' and "
                        "'dependent'")
    return FunctionalDependencyCheck(**spec)


def _build_benford(spec, dataframes):
    from ..operators.checks import BenfordCheck

    if "value_col" not in spec:
        raise SpecError("benford needs 'value_col'")
    return BenfordCheck(**spec)


def _build_drift(spec, dataframes):
    from ..operators.drift import DriftCheck

    kw = dict(spec)
    baseline = kw.pop("baseline", None)
    if isinstance(baseline, list):
        # inline [[group, bucket, p], ...] rows — a baseline small enough
        # to live in the spec file itself
        baseline = [tuple(r) for r in baseline]
    else:
        baseline = _resolve_df(baseline, dataframes, "drift.baseline")
    return DriftCheck(baseline, **kw)


# check type -> (builder, known spec keys besides "type")
CHECK_BUILDERS = {
    "schema_conformance": (_build_schema_conformance, {"fields"}),
    "null_rate": (_build_null_rate, {"max_null_rate"}),
    "stat_interval": (_build_stat_interval, {"bounds"}),
    "uniqueness": (_build_uniqueness, {"column"}),
    "referential": (_build_referential,
                    {"column", "allowed", "require_all_present", "id_col"}),
    "consistency": (_build_consistency,
                    {"length_col", "array_col", "id_col"}),
    "length_bound": (_build_length_bound,
                     {"length_col", "min_len", "max_len", "id_col"}),
    "token_range": (_build_token_range,
                    {"array_col", "vocab_size", "id_col"}),
    "token_boundary": (_build_token_boundary,
                       {"array_col", "bos_id", "eos_id", "id_col"}),
    "token_equality": (_build_token_equality,
                       {"reference", "id_col", "tokens_col"}),
    "freshness": (_build_freshness,
                  {"ts_col", "as_of_ms", "max_age_ms", "min_ts_ms"}),
    "functional_dependency": (_build_functional_dependency,
                              {"determinant", "dependent",
                               "max_violation_rate", "check_id"}),
    "benford": (_build_benford, {"value_col", "max_chi2", "min_rows",
                                 "decimals", "check_id"}),
    "drift": (_build_drift, {"baseline", "value_col", "group_col", "lo",
                             "hi", "nbins", "metric", "threshold"}),
}


# -- acceptance builders ---------------------------------------------------

def _diff_class(name):
    from .. import differences

    cls = getattr(differences, name, None)
    from ..differences import BaseDifference

    if not (isinstance(cls, type) and issubclass(cls, BaseDifference)):
        raise SpecError("unknown difference class %r (Missing, Extra, "
                        "Invalid, Deviation)" % name)
    return cls


def _build_acc_count(spec, dataframes):
    from ..acceptances import AcceptedCount

    if "number" not in spec:
        raise SpecError("count acceptance needs 'number'")
    return AcceptedCount(spec["number"])


def _build_acc_percent(spec, dataframes):
    from ..acceptances import AcceptedPercent

    if "value" in spec:
        return AcceptedPercent(spec["value"])
    if "lower" not in spec or "upper" not in spec:
        raise SpecError("percent acceptance needs 'value' or lower+upper")
    return AcceptedPercent(spec["lower"], spec["upper"])


def _build_acc_tolerance(spec, dataframes):
    from ..acceptances import AcceptedTolerance

    if "value" in spec:
        return AcceptedTolerance(spec["value"])
    if "lower" not in spec or "upper" not in spec:
        raise SpecError("tolerance acceptance needs 'value' or lower+upper")
    return AcceptedTolerance(spec["lower"], spec["upper"])


def _build_acc_class(spec, dataframes):
    from ..acceptances import AcceptedClass

    if "class" not in spec:
        raise SpecError("class acceptance needs 'class'")
    return AcceptedClass(_diff_class(spec["class"]))


def _build_acc_instance(spec, dataframes):
    from ..acceptances import AcceptedInstance

    if "class" not in spec or "args" not in spec:
        raise SpecError("instance acceptance needs 'class' and 'args'")
    return AcceptedInstance(_diff_class(spec["class"])(*spec["args"]))


def _build_acc_fuzzy(spec, dataframes):
    from ..acceptances import AcceptedFuzzy

    if "cutoff" in spec:
        return AcceptedFuzzy(cutoff=spec["cutoff"])
    return AcceptedFuzzy()


def _build_acc_keys(spec, dataframes):
    from ..acceptances import AcceptedKeys

    # declarative predicate forms only (no callables in JSON):
    # {"in": [...]} -> set membership; {"equals": v} -> equality
    if "in" in spec:
        return AcceptedKeys(set(spec["in"]))
    if "equals" in spec:
        return AcceptedKeys(spec["equals"])
    raise SpecError("keys acceptance needs 'in' (list) or 'equals'")


def _build_acc_combined(spec, dataframes, union):
    from ..acceptances import AcceptedCombined

    parts = spec.get("of")
    if not isinstance(parts, list) or len(parts) < 2:
        raise SpecError("union/intersection acceptance needs 'of': "
                        "[spec, spec, ...] (>= 2 entries)")
    built = [_build_acceptance(p, dataframes) for p in parts]
    acc = built[0]
    for nxt in built[1:]:
        acc = AcceptedCombined(acc, nxt, union)
    return acc


ACCEPTANCE_BUILDERS = {
    "count": _build_acc_count,
    "percent": _build_acc_percent,
    "tolerance": _build_acc_tolerance,
    "class": _build_acc_class,
    "instance": _build_acc_instance,
    "fuzzy": _build_acc_fuzzy,
    "keys": _build_acc_keys,
    "union": lambda s, d: _build_acc_combined(s, d, union=True),
    "intersection": lambda s, d: _build_acc_combined(s, d, union=False),
}


def _build_acceptance(spec, dataframes):
    if not isinstance(spec, dict) or "type" not in spec:
        raise SpecError("acceptance spec needs a 'type': %r" % (spec,))
    t = spec["type"]
    if t not in ACCEPTANCE_BUILDERS:
        raise SpecError("unknown acceptance type %r (known: %s)"
                        % (t, ", ".join(sorted(ACCEPTANCE_BUILDERS))))
    return ACCEPTANCE_BUILDERS[t](spec, dataframes)


# -- entry points ----------------------------------------------------------

_SUITE_KEYS = ("partition_cols", "stats_columns", "quantiles")


def suite_from_spec(spec, dataframes=None):
    """Build a :class:`ValidationSuite` from a JSON-able spec dict.

    ``dataframes`` resolves ``"@name"`` references (drift baselines,
    token-equality reference tables).  Raises :class:`SpecError` on any
    structural problem — specs are config, and config errors must fail
    the job at build time, not degrade the verdict surface silently.
    """
    from .suite import ValidationSuite

    if not isinstance(spec, dict):
        raise SpecError("suite spec must be a dict, got %r" % type(spec))
    unknown = set(spec) - set(_SUITE_KEYS) - {"checks", "acceptances"}
    if unknown:
        raise SpecError("unknown suite keys %s (typo'd config must not be "
                        "ignored)" % sorted(unknown))
    checks_spec = spec.get("checks")
    if not isinstance(checks_spec, list) or not checks_spec:
        raise SpecError("suite spec needs a non-empty 'checks' list")
    checks = []
    for c in checks_spec:
        if not isinstance(c, dict) or "type" not in c:
            raise SpecError("check spec needs a 'type': %r" % (c,))
        t = c["type"]
        if t not in CHECK_BUILDERS:
            raise SpecError("unknown check type %r (known: %s)"
                            % (t, ", ".join(sorted(CHECK_BUILDERS))))
        build, known = CHECK_BUILDERS[t]
        params = {k: v for k, v in c.items() if k != "type"}
        unknown = set(params) - known
        if unknown:
            # a typo'd parameter must not run the check with its default
            raise SpecError("unknown keys %s for check %r (known: %s)"
                            % (sorted(unknown), t,
                               ", ".join(sorted(known))))
        checks.append(build(params, dataframes))
    acceptances = [_build_acceptance(a, dataframes)
                   for a in spec.get("acceptances", [])]
    kwargs = {k: spec[k] for k in _SUITE_KEYS if k in spec}
    if "partition_cols" in kwargs:
        kwargs["partition_cols"] = list(kwargs["partition_cols"])
    if "quantiles" in kwargs:
        kwargs["quantiles"] = list(kwargs["quantiles"])
    return ValidationSuite(checks, acceptances=acceptances, **kwargs)


def suite_from_spec_file(path, dataframes=None):
    """Load a JSON spec file and build the suite (the config-repo path)."""
    import json

    with open(path, "r") as fh:
        try:
            spec = json.load(fh)
        except ValueError as e:
            raise SpecError("spec file %s is not valid JSON: %s" % (path, e))
    return suite_from_spec(spec, dataframes=dataframes)
