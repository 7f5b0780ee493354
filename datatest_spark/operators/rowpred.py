"""Per-row predicate operators: callable predicates + token-array equality.

Callable predicates (P5/U1) are the reference's escape hatch
(``ref:datatest/_predicate.py``): an arbitrary Python callable applied per
element, optionally *returning a difference object* used verbatim. On Spark
this is the sanctioned slow path: a **vectorized pandas UDF** (Arrow
batches, never row-at-a-time Python — BASELINE.json:15).

Token-array equality (J5/U3) is the per-row invariant vs the reference
copy: an xxhash64 prefilter picks candidate ids, and the pure JVM
expression ``arrays_equal_native`` (``size`` + ``zip_with`` + ``forall``)
decides each candidate pair. ``arrays_equal_pandas`` is the Arrow-batched
oracle tests hold it against (SURVEY.md §2.9 U3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..predicates import Predicate


def callable_violations(df, col, predicate, id_col=None, group_col=None):
    """Violations plan for a callable predicate.

    The callable may return: truthy/falsy (usual predicate), or a
    difference object (Missing/Extra/Invalid/Deviation) which is emitted
    verbatim (ref:datatest difference-returning callables). The UDF returns
    a struct (ok, kind, value, expected, deviation); rows with ok=false
    become violations.
    """
    from ..differences import BaseDifference, Deviation, Extra, Invalid, Missing

    # Unwrap Predicate so difference-returning callables keep their
    # difference semantics (Predicate.__call__ bool-coerces the returned
    # difference, which would silently swallow it). The driver-side oracle
    # for negation is Predicate.__call__: a returned difference coerces
    # truthy, so under ~P it yields False — still a violation (reported as
    # a generic Invalid; the returned difference's args describe the
    # un-negated failure and don't apply).
    negated = isinstance(predicate, Predicate) and predicate._negated
    fn = predicate.obj if isinstance(predicate, Predicate) else predicate
    out_type = T.StructType(
        [
            T.StructField("ok", T.BooleanType()),
            T.StructField("kind", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("expected", T.StringType()),
            T.StructField("deviation", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _apply(s: pd.Series) -> pd.DataFrame:
        import math

        oks, kinds, values, expecteds, devs = [], [], [], [], []
        for v in s:
            # Arrow hands numeric nulls to pandas as NaN; the reference
            # callable sees Python None for missing values, so normalize
            # (true float NaN data is indistinguishable post-Arrow and
            # also maps to None — documented engine behavior).
            if v is None or (isinstance(v, float) and math.isnan(v)):
                v = None
            try:
                r = fn(v)
            except Exception:
                # an un-evaluable row is a violation whether or not the
                # predicate is negated — negation must not silently
                # accept rows the callable cannot judge
                oks.append(False)
                kinds.append("invalid")
                values.append(None)
                expecteds.append(None)
                devs.append(None)
                continue
            if isinstance(r, BaseDifference):
                if negated:
                    # truthy difference -> ~P is False -> violation, but
                    # as a generic Invalid(value): r's args describe the
                    # un-negated failure
                    oks.append(False)
                    kinds.append("invalid")
                    values.append(None)
                    expecteds.append(None)
                    devs.append(None)
                    continue
                oks.append(False)
                if isinstance(r, Deviation):
                    kinds.append("deviation")
                    values.append(None)
                    expecteds.append(
                        None if r.expected is None else str(r.expected)
                    )
                    devs.append(float(r.deviation) if r.deviation is not None else None)
                else:
                    kinds.append(
                        "missing"
                        if isinstance(r, Missing)
                        else "extra"
                        if isinstance(r, Extra)
                        else "invalid"
                    )
                    values.append(str(r.args[0]))
                    expecteds.append(
                        str(r.args[1]) if isinstance(r, Invalid) and len(r.args) > 1 else None
                    )
                    devs.append(None)
            else:
                ok = bool(r)
                oks.append((not ok) if negated else ok)
                kinds.append("invalid")
                values.append(None)
                expecteds.append(None)
                devs.append(None)
        return pd.DataFrame(
            {"ok": oks, "kind": kinds, "value": values, "expected": expecteds,
             "deviation": devs}
        )

    res = df.withColumn("_r", _apply(F.col(col)))
    bad = res.filter(~F.col("_r.ok"))
    return bad.select(
        F.col("_r.kind").alias("kind"),
        (F.col(group_col).cast("string") if group_col else F.lit(None).cast("string")).alias(
            "group_key"
        ),
        (F.col(id_col).cast("string") if id_col else F.lit(None).cast("string")).alias(
            "doc_id"
        ),
        F.coalesce(F.col("_r.value"), F.col(col).cast("string")).alias("value"),
        F.col("_r.expected").alias("expected"),
        F.col("_r.deviation").alias("deviation"),
        F.lit(None).cast(T.MapType(T.StringType(), T.StringType())).alias("detail"),
    )


def arrays_equal_native(a, b):
    """JVM-side token-array equality: null-safe, length- and element-wise.

    ``zip_with(a, b, <=>)`` + ``forall`` keeps the whole check inside
    whole-stage codegen — the default at scale (SURVEY.md J5).
    """
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    elementwise = F.forall(
        F.zip_with(a, b, lambda x, y: x.eqNullSafe(y)), lambda ok: ok
    )
    return (
        (a.isNull() & b.isNull())
        | (a.isNotNull() & b.isNotNull() & (F.size(a) == F.size(b)) & elementwise)
    )


@F.pandas_udf(T.BooleanType())
def arrays_equal_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched parity oracle for arrays_equal_native (U3)."""
    out = []
    for x, y in zip(a, b):
        if x is None and y is None:
            out.append(True)
        elif x is None or y is None:
            out.append(False)
        else:
            lx, ly = list(x), list(y)
            out.append(len(lx) == len(ly) and lx == ly)
    return pd.Series(out, dtype="bool")


def token_equality_violations(
    data: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-row token-array equality vs the reference copy (J5/U3).

    Each side first reduces its arrays to ``(id, xxhash64(tokens), size,
    is_null)``, so the candidate join shuffles a few bytes per row
    instead of the full token arrays (measured 158s -> seconds on a 4M x
    ~290-token join at local[32]). Ids with any differing triple are
    candidates; only their rows re-join with full arrays, and
    ``arrays_equal_native`` keeps the pairs that really differ — so the
    matching copy of a duplicated id is not reported. A 64-bit hash
    collision (probability ~2^-64 per row) could still hide a
    corruption; at 10^12 the recommended layout is bucket-by-doc_id so
    the joins avoid the shuffle.

    Rows present in the reference but absent from the data are Missing;
    mismatched arrays are Invalid with a compact detail. Column pruning:
    only (id, tokens) of each side is scanned.
    """
    d = data.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_a"))
    r = reference.select(F.col(id_col).alias("_id"), F.col(tokens_col).alias("_b"))

    dh = d.select(
        "_id",
        F.xxhash64(F.col("_a")).alias("_ha"),
        F.size(F.col("_a")).alias("_sa"),
        F.col("_a").isNull().alias("_na"),
    )
    rh = r.select(
        "_id",
        F.xxhash64(F.col("_b")).alias("_hb"),
        F.size(F.col("_b")).alias("_sb"),
        F.col("_b").isNull().alias("_nb"),
    )
    bad_ids = (
        dh.join(rh, "_id", "inner")
        .filter(
            (F.col("_ha") != F.col("_hb"))
            | (F.col("_sa") != F.col("_sb"))
            | (F.col("_na") != F.col("_nb"))
        )
        .select("_id")
    )
    # rare candidates: fetch both arrays, keep only the pairs that differ
    mismatch = (
        d.join(bad_ids, "_id", "left_semi")
        .join(r.join(bad_ids, "_id", "left_semi"), "_id", "inner")
        .filter(~arrays_equal_native(F.col("_a"), F.col("_b")))
    )
    invalid = mismatch.select(
        F.lit("invalid").alias("kind"),
        F.lit(None).cast("string").alias("group_key"),
        F.col("_id").cast("string").alias("doc_id"),
        F.concat(F.lit("size="), F.size("_a").cast("string")).alias("value"),
        F.concat(F.lit("size="), F.size("_b").cast("string")).alias("expected"),
        F.lit(None).cast("double").alias("deviation"),
        F.create_map(
            F.lit("check"), F.lit("token_equality"),
            F.lit("first_diff_pos"),
            F.array_position(
                F.zip_with(F.col("_a"), F.col("_b"), lambda x, y: x.eqNullSafe(y)),
                False,
            ).cast("string"),
        ).alias("detail"),
    )
    missing = r.join(d, "_id", "left_anti").select(
        F.lit("missing").alias("kind"),
        F.lit(None).cast("string").alias("group_key"),
        F.col("_id").cast("string").alias("doc_id"),
        F.col("_id").cast("string").alias("value"),
        F.lit(None).cast("string").alias("expected"),
        F.lit(None).cast("double").alias("deviation"),
        F.create_map(F.lit("check"), F.lit("token_equality")).alias("detail"),
    )
    return invalid.unionByName(missing)
