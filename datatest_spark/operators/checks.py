"""Suite check operators over the tokenized-sequence table (SURVEY §7.0).

Each check is a named object with a stable ``check_id`` and exactly one
evaluation path:
    ``row_conditions(df)``               — row checks: per-row conditions
                                           that ``fuse_row_checks`` folds
                                           into one scan; their
                                           ``violations(df)`` is that scan
                                           over the single check;
    ``violations(df)``                   — plan checks: a dedicated
                                           join/aggregation plan;
    ``stats_violations(spark, rows)``    — violations derived from the
                                           collected wide-agg stats
                                           (partition-level).
``df`` already carries the ``partition_key`` column. All plans stay
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import VIOLATION_SCHEMA

_CORE_WITH_PK = [
    "check_id", "kind", "partition_key", "group_key", "doc_id",
    "value", "expected", "deviation", "detail",
]


def _sel(df, check_id, kind, value, expected=None, deviation=None, doc_id=None,
         group_key=None, detail=None):
    return df.select(
        F.lit(check_id).alias("check_id"),
        (kind if isinstance(kind, F.Column) else F.lit(kind)).alias("kind"),
        F.col("partition_key").cast("string").alias("partition_key"),
        (group_key if group_key is not None else F.lit(None).cast("string")).alias("group_key"),
        (doc_id if doc_id is not None else F.lit(None).cast("string")).alias("doc_id"),
        value.cast("string").alias("value"),
        (expected.cast("string") if expected is not None else F.lit(None).cast("string")).alias("expected"),
        (deviation.cast("double") if deviation is not None else F.lit(None).cast("double")).alias("deviation"),
        (detail if detail is not None else F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))).alias("detail"),
    )


class BaseCheck(object):
    check_id = "base"
    uses_stats = False
    # column a row check's violations attribute their ``doc_id`` from
    id_col = "doc_id"

    def violations(self, df: DataFrame) -> DataFrame | None:
        """This check's violation plan alone. Row checks run the same
        fused scan the suite runs; plan checks override this."""
        return fuse_row_checks(df, [self])

    def stats_violations(self, spark, stats_rows) -> list:
        """Return violation row dicts derived from collected stats."""
        return []

    def row_conditions(self, df: DataFrame) -> list | None:
        """Fusable per-row form: list of dicts with Column entries
        {cond, kind, value, expected, deviation, detail}.

        Checks that return non-None here are FUSED into a single input
        scan by the suite runner (SURVEY §3.1 shuffle family (c)) — one
        pass emits every row-level violation via when()/explode instead
        of one scan per check. Return None to keep a dedicated plan.
        """
        return None


def fuse_row_checks(df: DataFrame, checks) -> DataFrame | None:
    """One scan for all fusable row-level checks.

    Builds, per check condition, a nullable violation struct; an
    array+explode emits 0..n violations per input row. Each violation's
    ``doc_id`` comes from its own check's ``id_col`` (null when the frame
    lacks the default ``doc_id`` column; a missing custom ``id_col`` is
    an AnalysisException). Catalyst prunes the scan to exactly the columns
    the fused conditions touch, and the whole select stays inside one
    WholeStageCodegen span.
    """
    def _s(col):
        return col.cast("string") if col is not None else F.lit(None).cast("string")

    specs = []
    for check in checks:
        conds = check.row_conditions(df)
        if conds is None:
            return None
        # only the default id column may be absent (null doc_id); a
        # named one that is missing fails at analysis, not silently
        doc_id = _s(None if check.id_col == "doc_id"
                    and "doc_id" not in df.columns
                    else F.col(check.id_col))
        for c in conds:
            specs.append((check.check_id, doc_id, c))
    if not specs:
        return None

    structs = []
    for check_id, doc_id, c in specs:
        structs.append(
            F.when(
                F.coalesce(c["cond"], F.lit(False)),
                F.struct(
                    F.lit(check_id).alias("check_id"),
                    F.lit(c["kind"]).alias("kind"),
                    doc_id.alias("doc_id"),
                    _s(c.get("value")).alias("value"),
                    _s(c.get("expected")).alias("expected"),
                    (
                        c["deviation"].cast("double")
                        if c.get("deviation") is not None
                        else F.lit(None).cast("double")
                    ).alias("deviation"),
                    (
                        c.get("detail")
                        if c.get("detail") is not None
                        else F.lit(None).cast(
                            T.MapType(T.StringType(), T.StringType())
                        )
                    ).alias("detail"),
                ),
            ).alias("_v{0}".format(len(structs)))
        )

    # Filter FIRST on the disjunction of all conditions — a pure codegen
    # predicate that prunes the ~99.9% clean rows before any struct/array
    # allocation. Without this the explode allocates per input row and
    # GC saturates at high thread counts (measured: 12.6s@8thr vs
    # 15.2s@32thr on 4M rows; with the pre-filter the scan scales).
    any_cond = None
    for _, _, c in specs:
        cc = F.coalesce(c["cond"], F.lit(False))
        any_cond = cc if any_cond is None else (any_cond | cc)
    exploded = (
        df.filter(any_cond)
        .select(
            F.col("partition_key"),
            F.explode(F.array(*structs)).alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
    )
    return exploded.select(
        F.col("_v.check_id").alias("check_id"),
        F.col("_v.kind").alias("kind"),
        F.col("partition_key").cast("string").alias("partition_key"),
        F.lit(None).cast("string").alias("group_key"),
        F.col("_v.doc_id").alias("doc_id"),
        F.col("_v.value").alias("value"),
        F.col("_v.expected").alias("expected"),
        F.col("_v.deviation").alias("deviation"),
        F.col("_v.detail").alias("detail"),
    )


class SchemaConformanceCheck(BaseCheck):
    """Declared-StructType conformance (north_star 'schema conformance').

    Driver-side structural compare (names/types/order) — zero data cost;
    a mismatch yields one partition-independent violation per bad field.
    """

    check_id = "schema_conformance"

    def __init__(self, expected_schema):
        self.expected = expected_schema

    def schema_violations(self, df) -> list:
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields
                  if f.name != "partition_key"}
        expect = {f.name: f.dataType.simpleString() for f in self.expected.fields}
        out = []
        for name, dt in expect.items():
            if name not in actual:
                out.append(dict(kind="missing", value=name, expected=dt,
                                detail={"reason": "column absent"}))
            elif actual[name] != dt:
                out.append(dict(kind="invalid", value="{0}:{1}".format(name, actual[name]),
                                expected="{0}:{1}".format(name, dt),
                                detail={"reason": "type mismatch"}))
        for name in actual:
            if name not in expect:
                out.append(dict(kind="extra", value=name,
                                detail={"reason": "undeclared column"}))
        return out


class NullRateCheck(BaseCheck):
    """Per-partition null-rate thresholds, derived from the wide agg (A10)."""

    check_id = "null_rate"
    uses_stats = True

    def __init__(self, max_null_rate: dict):
        # {column: max allowed null fraction}
        self.max_null_rate = dict(max_null_rate)

    def stats_violations(self, spark, stats_rows):
        out = []
        for row in stats_rows:
            n = row["n_rows"] or 0
            if not n:
                continue
            for col, limit in self.max_null_rate.items():
                nulls = row.get(col + "__nulls")
                if nulls is None:
                    continue
                rate = nulls / n
                if rate > limit:
                    out.append(
                        dict(
                            check_id=self.check_id,
                            kind="deviation",
                            partition_key=row["partition_key"],
                            group_key=col,
                            value=str(rate),
                            expected=str(limit),
                            deviation=rate - limit,
                            detail={"n_nulls": str(nulls), "n_rows": str(n)},
                        )
                    )
        return out


class StatIntervalCheck(BaseCheck):
    """Partition-level bounds on any stat the wide agg produced,
    e.g. n_tok__min >= 1, n_tok__max <= 4096 (A10 consumers)."""

    check_id = "stat_interval"
    uses_stats = True

    def __init__(self, bounds: dict):
        # {stat_name: (lower|None, upper|None)}
        self.bounds = dict(bounds)

    def stats_violations(self, spark, stats_rows):
        out = []
        for row in stats_rows:
            for stat, (lo, hi) in self.bounds.items():
                v = row.get(stat)
                if v is None:
                    continue
                bad_lo = lo is not None and v < lo
                bad_hi = hi is not None and v > hi
                if bad_lo or bad_hi:
                    bound = lo if bad_lo else hi
                    out.append(
                        dict(
                            check_id=self.check_id,
                            kind="deviation",
                            partition_key=row["partition_key"],
                            group_key=stat,
                            value=str(float(v)),
                            expected=str(float(bound)),
                            deviation=float(v) - float(bound),
                        )
                    )
        return out


class UniquenessCheck(BaseCheck):
    """doc_id uniqueness (A8/O3): an exact ``groupBy(partition_key,
    column)`` that emits one Extra row per surplus occurrence (a key
    seen k times yields k-1 rows). With an Iceberg bucket(doc_id) layout
    the groupBy is shuffle-free in prod."""

    check_id = "uniqueness"

    def __init__(self, column="doc_id"):
        self.column = column

    def violations(self, df):
        c = self.column
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy("partition_key", c)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        surplus = counts.withColumn(
            "_dup", F.explode(F.sequence(F.lit(1), F.col("_n") - 1))
        )
        return _sel(
            surplus, self.check_id, "extra", F.col(c), doc_id=F.col(c),
            detail=F.create_map(F.lit("multiplicity"), F.col("_n").cast("string")),
        )


class ReferentialCheck(BaseCheck):
    """Membership of a column in an allowed set (J1–J3): broadcast
    left_anti join; one Extra row per offending data row (attributable),
    plus optional Missing rows for required-but-absent members (J2)."""

    check_id = "referential"

    def __init__(self, column="source", allowed=None, require_all_present=False,
                 id_col="doc_id"):
        self.column = column
        self.allowed = allowed  # list | DataFrame
        self.require_all = require_all_present
        self.id_col = id_col

    def _allowed_df(self, spark, template_field):
        if isinstance(self.allowed, DataFrame):
            return self.allowed.select(F.col(self.allowed.columns[0]).alias(self.column))
        return spark.createDataFrame(
            [(v,) for v in self.allowed], T.StructType([template_field])
        )

    def row_conditions(self, df):
        # literal allowed sets fuse into the single row-scan via isin;
        # DataFrame-valued sets and require_all need the broadcast join
        # path (violations())
        if isinstance(self.allowed, DataFrame) or self.require_all:
            return None
        c = F.col(self.column)
        return [
            dict(
                cond=~c.isin(list(self.allowed)) | c.isNull(),
                kind="extra",
                value=c,
            )
        ]

    def violations(self, df):
        fused = super().violations(df)
        if fused is not None:
            return fused
        spark = df.sparkSession
        field = [f for f in df.schema.fields if f.name == self.column][0]
        allowed = self._allowed_df(spark, field)
        bad = df.join(F.broadcast(allowed), self.column, "left_anti")
        plan = _sel(
            bad, self.check_id, "extra", F.col(self.column),
            doc_id=F.col(self.id_col) if self.id_col in df.columns else None,
        )
        if self.require_all:
            from ..joins import required_minus_data

            present = df.select(self.column).distinct()
            absent = required_minus_data(
                allowed, present, [self.column], null_safe=False
            ).withColumn(
                "partition_key", F.lit(None).cast("string")
            )
            plan = plan.unionByName(
                _sel(absent, self.check_id, "missing", F.col(self.column))
            )
        return plan


class ConsistencyCheck(BaseCheck):
    """Row-level invariant n_tok == size(tokens): mismatches are
    Deviations (actual - declared); null-array rows with non-null n_tok
    are Invalid."""

    check_id = "n_tok_consistency"

    def __init__(self, length_col="n_tok", array_col="tokens", id_col="doc_id"):
        self.length_col = length_col
        self.array_col = array_col
        self.id_col = id_col

    def row_conditions(self, df):
        lc, ac = F.col(self.length_col), F.col(self.array_col)
        return [
            dict(
                cond=lc.isNotNull() & ac.isNotNull() & (F.size(ac) != lc),
                kind="deviation",
                value=F.size(ac),
                expected=lc,
                deviation=F.size(ac).cast("double") - lc.cast("double"),
            ),
            dict(
                cond=lc.isNotNull() & ac.isNull(),
                kind="invalid",
                value=ac,
                expected=lc,
                detail=F.create_map(
                    F.lit("reason"), F.lit("tokens null, n_tok set")
                ),
            ),
        ]


class LengthBoundCheck(BaseCheck):
    """Row-level context-window conformance: ``min_len <= length_col <=
    max_len``. Too-long sequences would silently truncate at pack time;
    zero/negative lengths are extraction failures. Out-of-bound rows
    are Deviations vs the violated bound (same convention as
    RequiredInterval); null lengths are Invalid (no numeric deviation).

    Fusable: ``row_conditions`` folds into the suite's single scan with
    every other row check — the marginal cost at 10^12 rows is one
    comparison per row, not a pass."""

    check_id = "length_bound"

    def __init__(self, length_col="n_tok", min_len=1, max_len=None,
                 id_col="doc_id"):
        if max_len is None and min_len is None:
            raise ValueError("length bound requires at least one bound")
        if (max_len is not None and min_len is not None
                and max_len < min_len):
            raise ValueError(
                "max_len %r < min_len %r" % (max_len, min_len)
            )
        self.length_col = length_col
        self.min_len = min_len
        self.max_len = max_len
        self.id_col = id_col

    def _bounds(self):
        lo = self.min_len
        hi = self.max_len
        label = "[{0},{1}]".format(
            lo if lo is not None else "-inf",
            hi if hi is not None else "inf",
        )
        return lo, hi, label

    def _out_of_bounds(self, lc):
        lo, hi, _ = self._bounds()
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (lc < lo)
        if hi is not None:
            cond = cond | (lc > hi)
        return cond

    def _nearest(self, lc):
        lo, hi, _ = self._bounds()
        if lo is not None and hi is not None:
            return F.when(lc < lo, F.lit(lo)).otherwise(F.lit(hi))
        return F.lit(lo if lo is not None else hi)

    def row_conditions(self, df):
        lc = F.col(self.length_col)
        _lo, _hi, label = self._bounds()
        nearest = self._nearest(lc)
        return [
            dict(
                cond=lc.isNotNull() & self._out_of_bounds(lc),
                kind="deviation",
                value=lc,
                expected=F.lit(label),
                deviation=lc.cast("double") - nearest.cast("double"),
            ),
            dict(
                cond=lc.isNull(),
                kind="invalid",
                value=lc,
                expected=F.lit(label),
            ),
        ]


class TokenRangeCheck(BaseCheck):
    """Every token id within [0, vocab): native forall over the array —
    no UDF, stays in codegen."""

    check_id = "token_range"

    def __init__(self, array_col="tokens", vocab_size=50257, id_col="doc_id"):
        self.array_col = array_col
        self.vocab = vocab_size
        self.id_col = id_col

    def row_conditions(self, df):
        ac = F.col(self.array_col)
        in_range = F.forall(
            ac, lambda t: t.isNotNull() & (t >= 0) & (t < self.vocab)
        )
        first_bad = F.filter(
            ac, lambda t: t.isNull() | (t < 0) | (t >= self.vocab)
        )[0]
        return [
            dict(
                cond=ac.isNotNull() & ~in_range,
                kind="invalid",
                value=first_bad,
                expected=F.lit("[0,{0})".format(self.vocab)),
            )
        ]


class TokenBoundaryCheck(BaseCheck):
    """Sequence framing integrity: the token array must begin with
    ``bos_id`` and/or end with ``eos_id`` — a tokenizer or packing bug
    that drops the frame tokens poisons every downstream training
    window, and it is invisible to range/length checks (the ids are in
    vocab, the length is fine). Null or empty arrays are violations too:
    an unframed sequence cannot be framed correctly.

    Fusable (``row_conditions``) like the other row checks: first/last
    element probes are two ``element_at`` calls inside the suite's
    single scan. Comparisons are null-safe so a null first/last token
    reads as a framing violation, not a silently-true predicate."""

    check_id = "token_boundary"

    def __init__(self, array_col="tokens", bos_id=None, eos_id=None,
                 id_col="doc_id"):
        if bos_id is None and eos_id is None:
            raise ValueError(
                "token boundary requires bos_id and/or eos_id"
            )
        self.array_col = array_col
        self.bos_id = bos_id
        self.eos_id = eos_id
        self.id_col = id_col

    def _label(self):
        parts = []
        if self.bos_id is not None:
            parts.append("bos={0}".format(self.bos_id))
        if self.eos_id is not None:
            parts.append("eos={0}".format(self.eos_id))
        return ",".join(parts)

    def _bad(self, ac):
        framed = F.lit(True)
        # try_element_at: ANSI mode makes plain element_at THROW on an
        # empty array; null-out-of-bounds + eqNullSafe(False) is the
        # violation semantics we want
        if self.bos_id is not None:
            framed = framed & F.try_element_at(ac, F.lit(1)).eqNullSafe(
                F.lit(self.bos_id)
            )
        if self.eos_id is not None:
            framed = framed & F.try_element_at(ac, F.lit(-1)).eqNullSafe(
                F.lit(self.eos_id)
            )
        return ac.isNull() | (F.size(ac) == 0) | ~framed

    def _value(self, ac):
        return F.concat_ws(
            "..",
            F.try_element_at(ac, F.lit(1)).cast("string"),
            F.try_element_at(ac, F.lit(-1)).cast("string"),
        )

    def row_conditions(self, df):
        ac = F.col(self.array_col)
        return [
            dict(
                cond=self._bad(ac),
                kind="invalid",
                value=self._value(ac),
                expected=F.lit(self._label()),
            )
        ]


class TokenEqualityCheck(BaseCheck):
    """Per-row token-array equality vs the reference copy (J5/U3)."""

    check_id = "token_equality"

    def __init__(self, reference_df, id_col="doc_id", tokens_col="tokens"):
        self.reference = reference_df
        self.id_col = id_col
        self.tokens_col = tokens_col

    def violations(self, df):
        from .rowpred import token_equality_violations

        # carry partition_key through the join for attribution
        data = df.select("partition_key", self.id_col, self.tokens_col)
        core = token_equality_violations(
            data.drop("partition_key"), self.reference,
            id_col=self.id_col, tokens_col=self.tokens_col,
        )
        pk_map = data.select(
            F.col(self.id_col).cast("string").alias("doc_id"),
            "partition_key",
        ).dropDuplicates(["doc_id"])
        out = core.join(pk_map, "doc_id", "left").withColumn(
            "check_id", F.lit(self.check_id)
        )
        return out.select(*_CORE_WITH_PK)



def epoch_ms(df, ts_col):
    """Session-timezone-free epoch millis for a timestamp/date/numeric column.

    TIMESTAMP_NTZ columns must NOT round-trip through LTZ (the cast
    applies the session timezone, so the same data yields different
    results under different sessions); the NTZ->NTZ ``timestamp_diff``
    from the epoch literal is TZ-free. LTZ columns are instants, so
    ``unix_millis`` is already TZ-free for them. Numeric columns are
    taken as epoch millis directly.
    """
    dt = dict(df.dtypes).get(ts_col, "")
    c = F.col(ts_col)
    if dt == "timestamp_ntz" or dt == "date":
        # date -> NTZ lands on midnight independent of the session TZ
        # (date -> LTZ would shift by the session offset)
        return F.timestamp_diff(
            "MILLISECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            c.cast("timestamp_ntz"),
        )
    if dt.startswith("timestamp"):
        return F.unix_millis(c.cast("timestamp"))
    return c.cast("long")

class FreshnessCheck(BaseCheck):
    """Temporal freshness gate (engine extension; datetime support §1.2):
    per partition, max(ts) must be no older than ``max_age`` relative to
    ``as_of``, and optionally min(ts) no earlier than ``min_ts``.

    Consumes the wide-agg stats when the timestamp column was included
    (epoch-millis min/max land there via numeric casting); otherwise runs
    its own tiny agg through ``violations()``.
    """

    check_id = "freshness"

    def __init__(self, ts_col, as_of_ms, max_age_ms, min_ts_ms=None):
        self.ts_col = ts_col
        self.as_of_ms = int(as_of_ms)
        self.max_age_ms = int(max_age_ms)
        self.min_ts_ms = min_ts_ms


    def violations(self, df):
        ms = epoch_ms(df, self.ts_col)
        agg = df.groupBy("partition_key").agg(
            F.max(ms).alias("_max_ms"), F.min(ms).alias("_min_ms")
        )
        stale = agg.filter(
            F.col("_max_ms").isNull()
            | (F.col("_max_ms") < F.lit(self.as_of_ms - self.max_age_ms))
        )
        plan = _sel(
            stale, self.check_id, "deviation",
            F.col("_max_ms"),
            expected=F.lit(self.as_of_ms - self.max_age_ms),
            deviation=(F.coalesce(F.col("_max_ms"), F.lit(0))
                       - F.lit(self.as_of_ms - self.max_age_ms)),
            detail=F.create_map(F.lit("reason"), F.lit("stale partition")),
        )
        if self.min_ts_ms is not None:
            early = agg.filter(F.col("_min_ms") < F.lit(int(self.min_ts_ms)))
            plan = plan.unionByName(
                _sel(
                    early, self.check_id, "deviation",
                    F.col("_min_ms"),
                    expected=F.lit(int(self.min_ts_ms)),
                    deviation=F.col("_min_ms") - F.lit(int(self.min_ts_ms)),
                    detail=F.create_map(
                        F.lit("reason"), F.lit("timestamps before floor")
                    ),
                )
            )
        return plan


class FunctionalDependencyCheck(BaseCheck):
    """Suite form of the FD-g3 audit (operators/stats.fd_audit): assert
    the claimed FD ``determinant -> dependent`` holds within every
    partition, emitting one ``invalid`` row per (partition, determinant
    value) that maps to more than one dependent value. ``value`` is the
    offending determinant value, ``expected`` its majority dependent,
    ``deviation`` the g3 violation count (rows off the majority), and
    ``detail.n_distinct_dep`` the fan-out. ``max_violation_rate``
    tolerates approximate FDs: a key is only flagged when its violating
    fraction exceeds the rate (default 0 = strict).

    Scale shape: one map-side-combinable (partition, det, dep) count —
    the corpus crosses the wire once, pre-combined — then a window over
    the aggregated frame; same proof as fd_audit, partition-scoped.
    """

    def __init__(self, determinant, dependent, max_violation_rate=0.0,
                 check_id=None):
        if not (0.0 <= float(max_violation_rate) < 1.0):
            raise ValueError(
                "max_violation_rate must be in [0, 1), got %r"
                % (max_violation_rate,)
            )
        self.determinant = determinant
        self.dependent = dependent
        self.max_violation_rate = float(max_violation_rate)
        self.check_id = check_id or "fd_{0}_to_{1}".format(
            determinant, dependent
        )

    def violations(self, df):
        # fd_audit carries the (det, dep) count + NULLS-LAST majority
        # tie-break; extra_keys scopes it per partition so the g3
        # semantics are pinned in exactly ONE place
        from .stats import fd_audit

        audit = fd_audit(df, self.determinant, self.dependent,
                         extra_keys=("partition_key",))
        bad = audit.filter(
            (F.col("n_distinct_dep") > 1)
            & (
                F.col("n_violations").cast("double")
                > F.lit(self.max_violation_rate)
                * F.col("n_rows").cast("double")
            )
        )
        return _sel(
            bad,
            self.check_id,
            "invalid",
            F.col(self.determinant),
            expected=F.col("majority_dep"),
            deviation=F.col("n_violations").cast("double"),
            group_key=F.col(self.determinant).cast("string"),
            detail=F.create_map(
                F.lit("n_distinct_dep"),
                F.col("n_distinct_dep").cast("string"),
                F.lit("n_rows"),
                F.col("n_rows").cast("string"),
            ),
        )


class BenfordCheck(BaseCheck):
    """First-digit forensic gate (suite form of stats.benford_profile):
    per partition, the chi-square statistic of the leading-digit
    distribution of ``value_col`` against Benford's law, failing
    partitions whose statistic exceeds ``max_chi2`` (default 20.09 =
    the 99th percentile of chi2 with 8 dof). Emits ONE ``deviation``
    row per failing partition: value = the chi-square statistic,
    expected = the threshold, deviation = the excess. Partitions with
    fewer than ``min_rows`` usable values are skipped (the test is
    meaningless on tiny samples; they surface through count checks).

    Digit extraction is the benford_profile discipline — fixed-point
    cents, leading digit from the INTEGER's decimal string, never float
    log10/pow. Non-positive/null values are excluded.

    Scale shape: one map-side-combinable (partition, digit) count (at
    most |partitions| x 9 keys cross the wire), then driver-free
    arithmetic on that frame.
    """

    def __init__(self, value_col, max_chi2=20.09, min_rows=100,
                 decimals=2, check_id=None):
        if max_chi2 <= 0:
            raise ValueError("max_chi2 must be positive, got %r"
                             % (max_chi2,))
        self.value_col = value_col
        self.max_chi2 = float(max_chi2)
        self.min_rows = int(min_rows)
        self.decimals = int(decimals)
        self.check_id = check_id or "benford_{0}".format(value_col)

    def violations(self, df):
        from pyspark.sql import Window

        from .stats import benford_digit_col, benford_expected

        cents, digit = benford_digit_col(self.value_col, self.decimals)
        counts = (
            df.where(F.col(self.value_col).isNotNull() & (cents > 0))
            .groupBy("partition_key", digit.alias("_d"))
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        # dense 9-digit grid per partition: a digit with ZERO observed
        # rows still contributes its full expected mass to chi-square
        spark = df.sparkSession
        grid = counts.select("partition_key").distinct().crossJoin(
            spark.range(1, 10).select(F.col("id").cast("int").alias("_d"))
        )
        dense = grid.join(counts, ["partition_key", "_d"], "left").select(
            "partition_key",
            "_d",
            F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
        )
        exp = F.col("_tot").cast("double") * benford_expected("_d")
        stat = (
            dense.withColumn(
                "_tot",
                F.sum("_n").over(Window.partitionBy("partition_key")),
            )
            .where(F.col("_tot") >= self.min_rows)
            .select(
                "partition_key",
                ((F.col("_n").cast("double") - exp)
                 * (F.col("_n").cast("double") - exp) / exp).alias("_t"),
            )
            .groupBy("partition_key")
            .agg(F.round(F.sum("_t"), 4).alias("_chi2"))
        )
        bad = stat.filter(F.col("_chi2") > F.lit(self.max_chi2))
        return _sel(
            bad,
            self.check_id,
            "deviation",
            F.col("_chi2"),
            expected=F.lit(self.max_chi2),
            deviation=F.col("_chi2") - F.lit(self.max_chi2),
            detail=F.create_map(
                F.lit("reason"), F.lit("first-digit distribution off Benford")
            ),
        )


_TYPE_CLASSES = (
    ("array", "array"), ("map", "map"), ("struct", "struct"),
    ("decimal", "decimal"), ("timestamp", "timestamp"),
)


def _type_class(dtype: str) -> str:
    """Coarse engine-neutral type class for a Spark dtype string —
    the granularity at which a cross-engine oracle can agree (Spark
    says 'bigint' where DuckDB says 'BIGINT'; both are 'integer')."""
    d = dtype.lower()
    for prefix, cls in _TYPE_CLASSES:
        if d.startswith(prefix):
            return cls
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "short", "byte"):
        return "integer"
    if d in ("float", "double", "real"):
        return "float"
    if d in ("string", "varchar", "char"):
        return "string"
    if d == "boolean":
        return "boolean"
    if d == "date":
        return "date"
    if d == "binary":
        return "binary"
    return "other"


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot-to-snapshot schema comparison — the drift half of
    schema conformance. ``SchemaConformanceCheck`` asks "does this
    table match the CONTRACT"; this asks "what changed between two
    snapshots of the same table": a column silently dropped by an
    upstream writer, a type widened int->float (precision loss for
    token ids!), or a column whose null-rate jumped because a join
    started missing.

    Returns one row per column in either schema, sorted by name:
    (column, status, old_class, new_class, old_null_rate,
    new_null_rate, null_rate_delta) — status in {added, removed,
    type_changed, kept}, types compared at the engine-neutral CLASS
    granularity (integer/float/decimal/string/boolean/timestamp/date/
    binary/array/map/struct — the level a cross-engine oracle can
    reproduce), null rates 6-dp ((n - count(col)) / n; NULL on an
    empty side), delta = new - old where both sides have the column
    and rows.

    Scale shape: ONE map-side-combinable wide aggregation per side
    (count(*) + count(col) per column — the column_stats shape),
    each reduced to a single driver row; the schema diff itself is
    metadata. Nothing data-sized crosses the wire.
    """

    def side(df):
        # df[c] indexing, not a back-quoted F.col string: a column name
        # containing a backtick would break the quoting
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.count(df[c]).alias("c_%d" % i)
            for i, c in enumerate(df.columns)
        ]
        row = df.agg(*aggs).first()
        n = int(row["_n"])
        rates = {}
        for i, c in enumerate(df.columns):
            rates[c] = (
                round((n - int(row["c_%d" % i])) / n, 6) if n > 0 else None
            )
        classes = {c: _type_class(t) for c, t in df.dtypes}
        return classes, rates

    old_cls, old_rate = side(old)
    new_cls, new_rate = side(new)
    out = []
    for c in sorted(set(old_cls) | set(new_cls)):
        oc, nc = old_cls.get(c), new_cls.get(c)
        if oc is None:
            status = "added"
        elif nc is None:
            status = "removed"
        elif oc != nc:
            status = "type_changed"
        else:
            status = "kept"
        orr, nrr = old_rate.get(c), new_rate.get(c)
        delta = (
            round(nrr - orr, 6) if orr is not None and nrr is not None
            else None
        )
        out.append((c, status, oc, nc, orr, nrr, delta))
    return old.sparkSession.createDataFrame(
        out,
        "column string, status string, old_class string, new_class string, "
        "old_null_rate double, new_null_rate double, null_rate_delta double",
    )


def partition_fingerprint(
    df: DataFrame,
    partition_cols=("source",),
    columns=None,
) -> DataFrame:
    """Order-insensitive CONTENT fingerprint per partition: the exact
    DECIMAL sum of a 60-bit md5 draw over each row's canonical string
    form — two partitions carry the same fingerprint iff they hold the
    same multiset of rows (up to 60-bit collisions), regardless of row
    order, file layout, or partitioning.  This is the content-addressed
    complement of the suite manifest's ``input_files_hash`` (which
    fingerprints file PATHS): a rewrite that shuffles rows into
    different files keeps this fingerprint and changes that one; a
    silent row edit flips this one even when paths stay put.
    Feed two snapshots to :func:`fingerprint_diff` for a which-
    partitions-changed answer without any row-level join.

    ``columns`` defaults to every non-partition column; values join
    with an unprintable separator, nulls spelled distinctly (the
    qi_key discipline), so ("a", None) and ("a,None") cannot collide.

    Cross-engine determinism: the row draw is
    ``conv(substr(md5(row),1,15),16,10)`` — DuckDB-reproducible — and
    the sum is an exact DECIMAL(38,0) (10^12 rows × 2^60 ≈ 10^30 fits),
    so the fingerprint is value-oracled, not just stable.

    Scale shape: MAP-ONLY hashing inside codegen feeding ONE
    map-side-combinable ``groupBy(partition_key)`` — a 10^12-row
    snapshot reduces to |partitions| rows crossing the wire.
    """
    from .stats import partition_key_col

    part = list(partition_cols)
    cols = (
        [c for c in df.columns if c not in part]
        if columns is None
        else list(columns)
    )
    if not cols:
        raise ValueError("partition_fingerprint: no content columns")
    row = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null\x00"))
            for c in cols
        ],
    )
    draw = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    return (
        df.withColumn("partition_key", partition_key_col(part))
        .groupBy("partition_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # string form: a fingerprint is an identifier, not a number
            # (and both engines render the exact integer identically,
            # where decimal-vs-hugeint python types would diverge)
            F.sum(draw)
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_sum"),
        )
    )


def fingerprint_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Which partitions changed between two snapshots, from their
    :func:`partition_fingerprint` frames alone: one row per partition
    present in either, with status ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` and both sides' row counts — the
    incremental-validation planner's input (re-validate exactly the
    changed partitions, resume the rest from the manifest).

    Zero corpus involvement: an outer join of two |partitions|-row
    frames.  ``changed`` means content_sum or n_rows moved; identical
    multisets compare equal by construction, so a pure rewrite
    (compaction, re-sort, re-bucketing) reads ``unchanged`` — exactly
    the property a resume guard wants, where the path-hash guard would
    force a full re-run.
    """
    o = old.select(
        "partition_key",
        F.col("n_rows").alias("n_rows_old"),
        F.col("content_sum").alias("_cs_old"),
    )
    n = new.select(
        "partition_key",
        F.col("n_rows").alias("n_rows_new"),
        F.col("content_sum").alias("_cs_new"),
    )
    j = o.join(n, "partition_key", "full_outer")
    status = (
        F.when(F.col("_cs_old").isNull(), "added")
        .when(F.col("_cs_new").isNull(), "removed")
        .when(
            (F.col("_cs_old") == F.col("_cs_new"))
            & (F.col("n_rows_old") == F.col("n_rows_new")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return j.select(
        "partition_key", "n_rows_old", "n_rows_new", status.alias("status")
    )
