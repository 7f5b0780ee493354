"""Suite runner end-to-end (SURVEY §7.1 step 1, §5.2.3-4): synth table →
checks → violations → per-partition verdicts → manifest/resume →
determinism, plus salted-stats parity."""

import pytest
from pyspark.sql import functions as F

from datatest_spark import ValidationError, accepted
from datatest_spark.operators.checks import (
    ConsistencyCheck,
    NullRateCheck,
    ReferentialCheck,
    TokenEqualityCheck,
    TokenRangeCheck,
    UniquenessCheck,
)
from datatest_spark.operators.drift import DriftCheck, histogram, kl_divergence, psi
from datatest_spark.operators.stats import column_stats, column_stats_salted
from datatest_spark.plans.suite import ValidationSuite, north_star_suite
from datatest_spark.sources.synth import (
    ALLOWED_SOURCES,
    VOCAB_SIZE,
    allowed_sources,
    ref_tokens,
    tokenized_sequences,
)

N = 5000


def _dup_token_frames(spark):
    """Data + reference where some doc_ids are duplicated: a duplicate
    row reuses the previous row's id with its own tokens, so one copy of
    the id matches the reference and the other does not."""
    data = tokenized_sequences(spark, 600, seed=21, dup_rate=0.05,
                               len_mismatch_rate=0, bad_source_rate=0,
                               null_rate=0)
    ref = ref_tokens(spark, 600, seed=21, corrupt_rate=0.02,
                     missing_rate=0.01)
    return data, ref


def _token_equality_oracle(data, ref):
    """Plain-Python (kind, doc_id) list of the token-equality violations:
    one invalid per data row whose tokens differ from its reference row,
    one missing per reference row whose id the data lacks."""
    data_rows = [(r["doc_id"], r["tokens"]) for r in data.collect()]
    ref_by_id = {r["doc_id"]: r["tokens"] for r in ref.collect()}
    data_ids = {i for i, _ in data_rows}
    out = [("invalid", i) for i, a in data_rows
           if i in ref_by_id and a != ref_by_id[i]]
    out += [("missing", i) for i in ref_by_id if i not in data_ids]
    return sorted(out)


@pytest.fixture(scope="module")
def seqs(spark):
    df = tokenized_sequences(spark, N, seed=7, dup_rate=0.002,
                             len_mismatch_rate=0.002, bad_source_rate=0.002,
                             null_rate=0.001)
    df.persist().count()
    return df


class TestSynthDeterminism:
    def test_same_seed_same_data(self, spark):
        a = tokenized_sequences(spark, 500, seed=3).orderBy("doc_id").collect()
        b = tokenized_sequences(spark, 500, seed=3).orderBy("doc_id").collect()
        assert a == b

    def test_partitioning_invariant(self, spark):
        a = tokenized_sequences(spark, 500, seed=3, num_partitions=2)
        b = tokenized_sequences(spark, 500, seed=3, num_partitions=7)
        assert a.orderBy("doc_id").collect() == b.orderBy("doc_id").collect()

    def test_skew_present(self, seqs):
        counts = {r["source"]: r["n"] for r in
                  seqs.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert counts["web"] > 20 * counts.get("forums", 1)


class TestStats:
    def test_wide_agg_shape(self, seqs):
        stats = column_stats(seqs, ("source",), ["doc_id", "n_tok"]).collect()
        pks = {r["partition_key"] for r in stats}
        assert any(pk.startswith("source=web") for pk in pks)
        row = stats[0]
        assert "n_rows" in row and "n_tok__min" in row.asDict()

    def test_salted_matches_unsalted(self, seqs):
        plain = {
            r["partition_key"]: r.asDict()
            for r in column_stats(seqs, ("source",), ["n_tok"], quantiles=None).collect()
        }
        salted = {
            r["partition_key"]: r.asDict()
            for r in column_stats_salted(seqs, ("source",), ["n_tok"], n_salts=8).collect()
        }
        assert set(plain) == set(salted)
        for pk in plain:
            assert plain[pk]["n_rows"] == salted[pk]["n_rows"]
            assert plain[pk]["n_tok__nulls"] == salted[pk]["n_tok__nulls"]
            assert plain[pk]["n_tok__min"] == salted[pk]["n_tok__min"]
            assert plain[pk]["n_tok__max"] == salted[pk]["n_tok__max"]


class TestChecks:
    def test_uniqueness_finds_injected_dups(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        v = UniquenessCheck("doc_id").violations(keyed)
        n = v.count()
        assert n > 0
        # surplus semantics: duplicates of k occurrences yield k-1 rows
        dup_total = (
            seqs.filter(F.col("doc_id").isNotNull())
            .groupBy("doc_id").count().filter("count > 1")
            .agg(F.sum(F.col("count") - 1)).collect()[0][0]
        )
        assert n == dup_total

    def test_referential_finds_bad_sources(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.concat(F.lit("source="), "source"))
        v = ReferentialCheck("source", allowed=ALLOWED_SOURCES).violations(keyed)
        rows = v.collect()
        assert rows and all(r["value"] == "spam" or r["value"] is None for r in rows)
        bad_n = seqs.filter(~F.col("source").isin(ALLOWED_SOURCES)).count()
        assert len(rows) == bad_n

    def test_consistency_mismatches(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        v = ConsistencyCheck().violations(keyed)
        expected = seqs.filter(
            F.col("tokens").isNotNull() & F.col("n_tok").isNotNull()
            & (F.size("tokens") != F.col("n_tok"))
        ).count()
        assert v.filter("kind = 'deviation'").count() == expected

    def test_token_range_clean(self, spark, seqs):
        keyed = seqs.withColumn("partition_key", F.lit("all"))
        assert TokenRangeCheck().violations(keyed).count() == 0

    def test_token_range_detects(self, spark):
        df = spark.createDataFrame(
            [("a", [1, 2], 2, "web"), ("b", [1, 99999], 2, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ).withColumn("partition_key", F.lit("all"))
        rows = TokenRangeCheck().violations(df).collect()
        assert len(rows) == 1 and rows[0]["doc_id"] == "b"


class TestDrift:
    def test_histogram_sums_to_one(self, spark, seqs):
        h = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        sums = h.groupBy("group").agg(F.sum("p").alias("s")).collect()
        for r in sums:
            assert abs(r["s"] - 1.0) < 1e-6

    def test_no_drift_against_self(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16, metric="psi", threshold=0.05)
        assert chk.drift_violations(seqs) == []

    def test_drift_detected_on_shift(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        shifted = seqs.withColumn(
            "n_tok",
            F.when(F.col("source") == "web", F.col("n_tok") + 300).otherwise(F.col("n_tok")),
        )
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16, metric="psi", threshold=0.2)
        viols = chk.drift_violations(shifted)
        assert any(v["group_key"] == "web" and v["kind"] == "deviation" for v in viols)

    def test_kl_psi_nonnegative(self):
        p = {1: 0.5, 2: 0.5}
        q = {1: 0.9, 2: 0.1}
        assert kl_divergence(p, q) > 0 and psi(p, q) > 0
        assert abs(kl_divergence(p, p)) < 1e-12

    def test_chi2_stat_hand_value(self):
        from datatest_spark.operators.drift import chi2_stat

        # n=40, e=(20,20): (30-20)^2/20 + (10-20)^2/20 = 10
        assert abs(chi2_stat({1: 30, 2: 10}, {1: 0.5, 2: 0.5}) - 10.0) < 1e-9
        assert chi2_stat({}, {1: 1.0}) == 0.0
        # self-consistent counts -> 0
        assert abs(chi2_stat({1: 20, 2: 20}, {1: 0.5, 2: 0.5})) < 1e-9

    def test_unknown_metric_rejected(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        with pytest.raises(ValueError, match="metric"):
            DriftCheck(base, metric="chisq", threshold=27.6)

    def test_chi2_requires_explicit_threshold(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        with pytest.raises(ValueError, match="threshold"):
            DriftCheck(base, metric="chi2")

    def test_chi2_metric_in_drift_check(self, spark, seqs):
        base = histogram(seqs, "n_tok", "source", 0, 2048, 16)
        # chi2 scales with n: use a 95% critical value for ~17 dof
        chk = DriftCheck(base, lo=0, hi=2048, nbins=16,
                         metric="chi2", threshold=27.6)
        assert chk.drift_violations(seqs) == []
        shifted = seqs.withColumn(
            "n_tok",
            F.when(F.col("source") == "web", F.col("n_tok") + 300)
            .otherwise(F.col("n_tok")),
        )
        viols = chk.drift_violations(shifted)
        assert any(
            v["group_key"] == "web" and v["kind"] == "deviation"
            and v["detail"]["metric"] == "chi2"
            for v in viols
        )


class TestSuiteEndToEnd:
    def test_full_run(self, spark, seqs, tmp_path):
        suite = north_star_suite(ALLOWED_SOURCES)
        res = suite.run(seqs, run_id="t1", manifest_dir=str(tmp_path / "m"),
                        violations_sink=str(tmp_path / "v"))
        assert res.n_rows_total == N
        verdicts = {(r["partition_key"], r["check_id"]): r["status"]
                    for r in res.verdicts.collect()}
        # injected defects must fail their checks somewhere
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "referential")
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "uniqueness")
        assert any(s == "fail" for (pk, c), s in verdicts.items() if c == "n_tok_consistency")
        # clean checks pass
        assert all(s == "pass" for (pk, c), s in verdicts.items() if c == "token_range")
        with pytest.raises(ValidationError):
            res.raise_if_failed()

    def test_clean_data_passes(self, spark, tmp_path):
        clean = tokenized_sequences(spark, 800, seed=11, dup_rate=0,
                                    len_mismatch_rate=0, bad_source_rate=0,
                                    null_rate=0)
        suite = north_star_suite(ALLOWED_SOURCES)
        res = suite.run(clean, run_id="t2")
        assert not res.failed
        res.raise_if_failed()  # no raise

    def test_acceptance_flips_to_accepted(self, spark, seqs):
        from datatest_spark.differences import Extra

        suite = north_star_suite(
            ALLOWED_SOURCES,
            acceptances=[accepted(Extra("spam"))],
        )
        res = suite.run(seqs, run_id="t3")
        statuses = {
            (r["partition_key"], r["check_id"]): r["status"]
            for r in res.verdicts.collect()
        }
        ref = {s for (pk, c), s in statuses.items() if c == "referential" and pk.startswith("source=spam")}
        assert ref == {"accepted"}

    def test_determinism(self, spark, seqs):
        suite = north_star_suite(ALLOWED_SOURCES)
        r1 = suite.run(seqs, run_id="d1")
        r2 = suite.run(seqs, run_id="d1")
        v1 = sorted(map(tuple, r1.violations.drop("run_id", "detail").collect()))
        v2 = sorted(map(tuple, r2.violations.drop("run_id", "detail").collect()))
        assert v1 == v2

    def test_resume_skips_completed(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)
        res1 = suite.run(seqs, run_id="r1", manifest_dir=mdir)
        done = suite.completed_partitions(spark, mdir, "r1")
        assert done  # all partitions recorded
        # resumed run validates nothing new (no fresh stats rows) but
        # still reports the recorded row total — a table-size monitor
        # must not false-alarm on resumed runs
        res2 = suite.run(seqs, run_id="r1", manifest_dir=mdir, resume=True)
        assert res2.stats_rows == []
        assert res2.n_rows_total == res1.n_rows_total

    def test_concurrent_resume_refused_by_lock(self, spark, seqs, tmp_path):
        # single-writer contract: a second invocation of the same run_id
        # while the lock file exists must fail fast — two racing resumes
        # would each read the same skip-set and append duplicate
        # violation rows to the sink
        import os

        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="lk", manifest_dir=mdir)
        # lock released after a clean run
        lock = suite._lock_path(mdir, "lk")
        assert not os.path.exists(lock)
        # simulate a concurrent holder
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        with pytest.raises(RuntimeError, match="single-writer"):
            suite.run(seqs, run_id="lk", manifest_dir=mdir, resume=True)
        os.unlink(lock)
        # after the holder finishes, the resume proceeds normally
        res = suite.run(seqs, run_id="lk", manifest_dir=mdir, resume=True)
        assert res.stats_rows == []

    def test_lock_released_when_run_raises(self, spark, seqs, tmp_path,
                                           monkeypatch):
        # an exception inside the run (failed stats job, refused resume,
        # broken sink) must not leave the lock behind — otherwise every
        # CI retry needs manual cleanup
        import os

        mdir = str(tmp_path / "manifest")
        suite = north_star_suite(ALLOWED_SOURCES)

        def boom(*a, **k):
            raise RuntimeError("boom")

        monkeypatch.setattr(suite, "_run_impl", boom)
        with pytest.raises(RuntimeError, match="boom"):
            suite.run(seqs, run_id="lk2", manifest_dir=mdir)
        assert not os.path.exists(suite._lock_path(mdir, "lk2"))

    def test_partial_resume_appends_only_new_partition_rows(
        self, spark, seqs, tmp_path
    ):
        # run 1 records violations for its partitions; a partial resume
        # (new partition appears) must append the NEW partition's rows
        # without wiping or duplicating the recorded ones
        mdir = str(tmp_path / "m")
        sink = str(tmp_path / "v")
        suite = north_star_suite(ALLOWED_SOURCES)
        r1 = suite.run(seqs, run_id="pr", manifest_dir=mdir,
                       violations_sink=sink)
        base = spark.read.parquet(sink + "/run_id=pr")
        n1 = base.count()
        assert n1 > 0
        grown = seqs.unionByName(
            tokenized_sequences(spark, 200, seed=77, dup_rate=0,
                                len_mismatch_rate=0, bad_source_rate=0,
                                null_rate=0)
            .withColumn("source", F.lit("newsrc"))  # genuinely new
        )
        r2 = suite.run(grown, run_id="pr", manifest_dir=mdir,
                       violations_sink=sink)
        after = spark.read.parquet(sink + "/run_id=pr")
        # strictly grew (new bad-source partition rows appended), and
        # the original partitions' rows were not duplicated
        assert after.count() > n1
        pre = {tuple(r) for r in base.drop("detail").collect()}
        post = [tuple(r) for r in after.drop("detail").collect()
                if tuple(r) in pre]
        assert len(post) == len(pre)

    def test_resume_preserves_accepted_status(self, spark, seqs, tmp_path):
        from datatest_spark.differences import Extra

        mdir = str(tmp_path / "m")
        suite = north_star_suite(
            ALLOWED_SOURCES, acceptances=[accepted(Extra("spam"))]
        )
        r1 = suite.run(seqs, run_id="ra", manifest_dir=mdir)
        r2 = suite.run(seqs, run_id="ra", manifest_dir=mdir)
        s1 = {(r["partition_key"], r["check_id"]): r["status"]
              for r in r1.verdicts.collect()}
        s2 = {(r["partition_key"], r["check_id"]): r["status"]
              for r in r2.verdicts.collect()}
        # the resumed re-emission reproduces pass/accepted/fail exactly —
        # pre-acceptance counts are recorded so 'accepted' survives
        assert s1 == s2
        assert "accepted" in set(s2.values())

    def test_token_equality_check(self, spark):
        data = tokenized_sequences(spark, 600, seed=21, dup_rate=0,
                                   len_mismatch_rate=0, bad_source_rate=0,
                                   null_rate=0)
        ref = ref_tokens(spark, 600, seed=21, corrupt_rate=0.02, missing_rate=0.01)
        from datatest_spark.operators.checks import TokenEqualityCheck

        keyed = data.withColumn("partition_key", F.concat(F.lit("source="), "source"))
        v = TokenEqualityCheck(ref).violations(keyed)
        kinds = {r["kind"] for r in v.collect()}
        assert "invalid" in kinds
        n_corrupt = v.filter("kind = 'invalid'").count()
        assert n_corrupt > 0

    def test_token_equality_native_vs_udf_parity(self, spark):
        # the single hash-prefilter path against the Arrow-batched
        # oracle, on input where duplicated ids have a matching copy
        from datatest_spark.operators.rowpred import (
            arrays_equal_pandas,
            token_equality_violations,
        )

        data, ref = _dup_token_frames(spark)
        native = sorted(
            r["doc_id"]
            for r in token_equality_violations(data, ref)
            .filter("kind = 'invalid'").collect()
        )
        joined = data.select("doc_id", F.col("tokens").alias("_a")).join(
            ref.select("doc_id", F.col("tokens").alias("_b")), "doc_id"
        )
        via_udf = sorted(
            r["doc_id"]
            for r in joined.filter(
                ~arrays_equal_pandas(F.col("_a"), F.col("_b"))
            ).collect()
        )
        assert native == via_udf and len(native) > 0

    def test_token_equality_duplicated_ids_match_oracle(self, spark):
        data, ref = _dup_token_frames(spark)
        ref_by_id = {r["doc_id"]: r["tokens"] for r in ref.collect()}
        copies = {}
        for r in data.collect():
            copies.setdefault(r["doc_id"], []).append(
                r["tokens"] == ref_by_id.get(r["doc_id"])
            )
        # the defect's shape is present: an id with one matching and one
        # mismatching copy
        assert any(len(c) > 1 and any(c) and not all(c)
                   for c in copies.values())
        keyed = data.withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        got = sorted(
            (r["kind"], r["doc_id"])
            for r in TokenEqualityCheck(ref).violations(keyed).collect()
        )
        assert got == _token_equality_oracle(data, ref)

    def test_full_skip_resume_reemits_recorded_verdicts(self, spark,
                                                        tmp_path):
        # a resume whose skip-set covers every partition must evaluate
        # nothing: drift and token equality over the empty remainder
        # would report every baseline group and reference row missing.
        # It re-emits every recorded verdict, the table-global ones too.
        data = tokenized_sequences(spark, 600, seed=21, dup_rate=0,
                                   len_mismatch_rate=0, bad_source_rate=0,
                                   null_rate=0)
        # the reference's 20 extra rows are absent from the data: their
        # 'missing' rows carry no partition (the __global__ verdict)
        ref = ref_tokens(spark, 620, seed=21, corrupt_rate=0.02,
                         missing_rate=0)
        base = histogram(data, "n_tok", "source", 0, 2048, 16)
        suite = ValidationSuite(
            [DriftCheck(base, lo=0, hi=2048, nbins=16),
             TokenEqualityCheck(ref)],
            partition_cols=("source",),
            stats_columns=["n_tok"],
        )
        mdir = str(tmp_path / "m")
        first = suite.run(data, run_id="fs", manifest_dir=mdir)
        second = suite.run(data, run_id="fs", manifest_dir=mdir)

        def key(r):
            return (r["partition_key"], r["check_id"], r["status"],
                    r["n_violations"])

        v1 = sorted(key(r) for r in first.verdicts.collect())
        v2 = sorted(key(r) for r in second.verdicts.collect())
        assert second.stats_rows == []
        assert v2 == v1
        assert {"pass", "fail"} <= {v[2] for v in v1}
        assert any(v[0] == "__global__" and v[2] == "fail" for v in v1)


class TestRowCheckFusion:
    """Fused single-scan row checks (SURVEY §3.1 family (c)) produce the
    violations a plain-Python reading of each check's rule finds."""

    def test_fused_equals_dedicated(self, spark, seqs):
        from datatest_spark.operators.checks import fuse_row_checks

        keyed = seqs.withColumn(
            "partition_key", F.concat(F.lit("source="), F.coalesce("source", F.lit("null")))
        )
        # the synthetic ids span the full vocabulary: one id less puts
        # the top id out of range in a few percent of rows
        vocab = VOCAB_SIZE - 1
        checks = [
            ConsistencyCheck(),
            TokenRangeCheck(vocab_size=vocab),
            ReferentialCheck("source", allowed=ALLOWED_SOURCES),
        ]
        fused = fuse_row_checks(keyed, checks)
        assert fused is not None
        fused_rows = sorted(
            ((r["check_id"], r["kind"], r["doc_id"], r["value"])
             for r in fused.collect()),
            key=repr,
        )
        oracle = []
        for r in seqs.collect():
            toks, n_tok, d = r["tokens"], r["n_tok"], r["doc_id"]
            if n_tok is not None and toks is not None and len(toks) != n_tok:
                oracle.append(("n_tok_consistency", "deviation", d,
                               str(len(toks))))
            if n_tok is not None and toks is None:
                oracle.append(("n_tok_consistency", "invalid", d, None))
            bad = [t for t in toks or []
                   if t is None or t < 0 or t >= vocab]
            if bad:
                oracle.append(("token_range", "invalid", d,
                               None if bad[0] is None else str(bad[0])))
            if r["source"] not in ALLOWED_SOURCES:
                oracle.append(("referential", "extra", d, r["source"]))
        assert {o[0] for o in oracle} == {c.check_id for c in checks}
        assert fused_rows == sorted(oracle, key=repr)

    def test_fused_is_single_scan(self, spark, seqs):
        from datatest_spark.operators.checks import fuse_row_checks

        keyed = seqs.withColumn("partition_key", F.lit("all"))
        fused = fuse_row_checks(
            keyed, [ConsistencyCheck(), TokenRangeCheck(),
                    ReferentialCheck("source", allowed=ALLOWED_SOURCES)]
        )
        plan = fused._jdf.queryExecution().executedPlan().toString()
        # one scan, no join/exchange in the fused row-check family
        assert "Exchange" not in plan
        assert plan.count("Scan") <= 1

    def test_custom_id_col_fuses(self, spark):
        from datatest_spark.operators.checks import fuse_row_checks

        df = spark.createDataFrame(
            [("s1", [1, 2], 2, "web"),       # clean
             ("s2", [1, 2], 3, "web"),       # n_tok != size(tokens)
             ("s3", [1, 99999], 2, "wiki")],  # token out of vocab
            "seq_id string, tokens array<int>, n_tok int, source string",
        )
        suite = ValidationSuite(
            [ConsistencyCheck(id_col="seq_id"),
             TokenRangeCheck(id_col="seq_id")],
            partition_cols=("source",),
            stats_columns=["n_tok"],
        )
        keyed = df.withColumn("partition_key", F.lit("all"))
        fused = fuse_row_checks(keyed, suite.checks)
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("Scan") <= 1
        res = suite.run(df, run_id="idc")
        assert sorted(
            (r["check_id"], r["doc_id"]) for r in res.violations.collect()
        ) == [("n_tok_consistency", "s2"), ("token_range", "s3")]

    def test_missing_custom_id_col_is_loud(self, spark):
        # a typo'd id column must fail, not emit unattributed violations;
        # only the default doc_id may be absent
        from pyspark.errors import AnalysisException

        df = spark.createDataFrame(
            [("s2", [1, 2], 3, "web")],
            "seq_id string, tokens array<int>, n_tok int, source string",
        ).withColumn("partition_key", F.lit("all"))
        with pytest.raises(AnalysisException):
            ConsistencyCheck(id_col="seqid").violations(df).collect()
        rows = ConsistencyCheck().violations(df).collect()
        assert [(r["kind"], r["doc_id"]) for r in rows] == [
            ("deviation", None)
        ]


class TestFreshness:
    def test_stale_partition_flagged(self, spark):
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", "web"),
             ("b", "2024-01-10 00:00:00", "books")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        as_of = 1704931200000  # 2024-01-11 00:00:00 UTC
        chk = FreshnessCheck("ts", as_of_ms=as_of, max_age_ms=2 * 86400_000)
        rows = chk.violations(df).collect()
        assert len(rows) == 1
        assert rows[0]["partition_key"] == "source=web"
        assert rows[0]["kind"] == "deviation" and rows[0]["deviation"] < 0

    def test_ntz_verdict_session_timezone_free(self, spark):
        """Regression (round-1 verdict): NTZ timestamps must yield the
        same staleness verdict under any session timezone — the old
        NTZ→LTZ cast applied the session TZ to the epoch math."""
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", "web"),
             ("b", "2024-01-10 00:00:00", "books")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        as_of = 1704931200000  # 2024-01-11 00:00:00
        chk = FreshnessCheck("ts", as_of_ms=as_of, max_age_ms=2 * 86400_000)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        results = {}
        try:
            for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                results[tz] = sorted(
                    (r["partition_key"], r["kind"], r["value"], r["deviation"])
                    for r in chk.violations(df).collect()
                )
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        vals = list(results.values())
        assert vals[0] == vals[1] == vals[2]
        assert len(vals[0]) == 1 and vals[0][0][0] == "source=web"

    def test_date_column_session_timezone_free(self, spark):
        """Review finding: date -> timestamp cast lands on midnight in
        the SESSION timezone; the date branch must go through NTZ."""
        from datatest_spark.operators.checks import FreshnessCheck

        df = spark.createDataFrame(
            [("a", "2024-01-05", "web")],
            "doc_id string, ts string, source string",
        ).withColumn("ts", F.col("ts").cast("date")).withColumn(
            "partition_key", F.concat(F.lit("source="), "source")
        )
        chk = FreshnessCheck("ts", as_of_ms=1704931200000, max_age_ms=1)
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        vals = []
        try:
            for tz in ("UTC", "Asia/Kolkata", "America/Los_Angeles"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                vals.append([r["value"] for r in chk.violations(df).collect()])
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)
        assert vals[0] == vals[1] == vals[2]
        assert vals[0] == ["1704412800000"]  # 2024-01-05T00:00 from epoch


class TestGlobalViolationVerdicts:
    """Partition-less violations (schema check) must fail the verdicts
    (review finding: silent false pass)."""

    def test_schema_mismatch_fails_suite(self, spark):
        from datatest_spark.operators.checks import SchemaConformanceCheck
        from datatest_spark.schema import INPUT_SCHEMA

        bad = spark.createDataFrame(
            [("a", "web")], "doc_id string, source string"  # missing columns
        )
        suite = ValidationSuite(
            [SchemaConformanceCheck(INPUT_SCHEMA)],
            partition_cols=("source",),
            stats_columns=["doc_id"],
        )
        res = suite.run(bad, run_id="schema-fail")
        assert res.failed
        statuses = {r["partition_key"]: r["status"] for r in res.verdicts.collect()
                    if r["check_id"] == "schema_conformance"}
        assert statuses.get("__global__") == "fail"


class TestDriftBaselineKeySpace:
    """Round-2 review: a baseline built from raw rows with non-string
    groups must land in histogram()'s stringified key space, or drift is
    never computed and every group double-reports extra+missing."""

    def test_int_group_col_baseline(self, spark):
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [(1, float(i % 10)) for i in range(100)]
            + [(2, float(i % 10)) for i in range(100)],
            "shard int, v double",
        )
        base = [
            (1, b, 0.1) for b in range(1, 11)
        ] + [(2, b, 0.1) for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="shard",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert set(metrics) == {"1", "2"}
        assert extra == set() and missing == set()
        assert chk.drift_violations(df) == []

    def test_text_format_baseline_str_buckets(self, spark):
        # a baseline loaded from CSV/JSON carries str groups AND str
        # buckets; both must normalize into histogram()'s key space
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [("web", float(i % 10)) for i in range(100)], "src string, v double"
        )
        base = [("web", str(b), "0.1") for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert extra == set() and missing == set()
        assert metrics["web"] < 0.01  # identical distribution, no drift

    def test_float_string_buckets(self, spark):
        # pandas round trips can float the bucket column ("3.0")
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame(
            [("web", float(i % 10)) for i in range(100)], "src string, v double"
        )
        base = [("web", "{0}.0".format(b), 0.1) for b in range(1, 11)]
        chk = DriftCheck(base, value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10, threshold=0.5)
        metrics, extra, missing = chk.compute(df)
        assert extra == set() and missing == set()
        assert metrics["web"] < 0.01

    def test_null_bucket_baseline_raises(self, spark):
        from datatest_spark.operators.drift import DriftCheck

        df = spark.createDataFrame([("web", 1.0)], "src string, v double")
        chk = DriftCheck([("web", None, 1.0)], value_col="v", group_col="src",
                         lo=0.0, hi=10.0, nbins=10)
        with pytest.raises(ValueError, match="null bucket"):
            chk.compute(df)


class TestLengthBoundCheck:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "web", 10), (2, "web", 5000), (3, "web", 0),
             (4, "wiki", None), (5, "wiki", 2048)],
            "doc_id long, source string, n_tok long",
        )

    def test_deviations_and_invalid(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck

        suite = ValidationSuite(
            [LengthBoundCheck(min_len=1, max_len=4096)],
            partition_cols=("source",),
            stats_columns=["n_tok"],
        )
        res = suite.run(self._df(spark), run_id="lb1")
        rows = {r["doc_id"]: r for r in res.violations.collect()}
        assert sorted(rows) == ["2", "3", "4"]
        assert rows["2"]["kind"] == "deviation"
        assert rows["2"]["deviation"] == 904.0  # 5000 - 4096
        assert rows["3"]["deviation"] == -1.0   # 0 - 1
        assert rows["4"]["kind"] == "invalid"
        assert rows["2"]["expected"] == "[1,4096]"
        assert res.failed

    def test_fused_equals_standalone(self, spark):
        from datatest_spark.operators.checks import (
            LengthBoundCheck, fuse_row_checks,
        )
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        check = LengthBoundCheck(min_len=1, max_len=4096)
        fused = fuse_row_checks(df, [check])
        a = sorted(map(tuple, fused.drop("detail").collect()))
        b = sorted(map(tuple, check.violations(df).drop("detail").collect()))
        assert a == b and len(a) == 3

    def test_bounds_validated(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck

        with pytest.raises(ValueError, match="max_len"):
            LengthBoundCheck(min_len=10, max_len=5)
        with pytest.raises(ValueError, match="at least one bound"):
            LengthBoundCheck(min_len=None, max_len=None)

    def test_one_sided_upper(self, spark):
        from datatest_spark.operators.checks import LengthBoundCheck
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        rows = {
            r["doc_id"]: r
            for r in LengthBoundCheck(
                min_len=None, max_len=100
            ).violations(df).collect()
        }
        assert sorted(rows) == ["2", "4", "5"]
        assert rows["5"]["deviation"] == 2048.0 - 100.0
        assert rows["5"]["expected"] == "[-inf,100]"


class TestSnapshotLineage:
    def test_snapshot_recorded_and_roundtrips(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "m")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="sn1", manifest_dir=mdir,
                  input_snapshot_id=12345)
        rows = suite._manifest_rows(spark, mdir, "sn1")
        snaps = {r["input_snapshot_id"] for r in rows}
        assert snaps == {"12345"}
        # same snapshot resumes cleanly
        res = suite.run(seqs, run_id="sn1", manifest_dir=mdir,
                        input_snapshot_id="12345")
        assert res.stats_rows == []

    def test_resume_refuses_different_snapshot(self, spark, seqs, tmp_path):
        mdir = str(tmp_path / "m")
        suite = north_star_suite(ALLOWED_SOURCES)
        suite.run(seqs, run_id="sn2", manifest_dir=mdir,
                  input_snapshot_id="111")
        with pytest.raises(ValueError, match="snapshot"):
            suite.run(seqs, run_id="sn2", manifest_dir=mdir,
                      input_snapshot_id="222")
        # snapshot-less resume (parquet twin) still allowed: the files
        # hash remains the lineage guard there
        res = suite.run(seqs, run_id="sn2", manifest_dir=mdir)
        assert res.stats_rows == []


class TestTokenBoundaryCheck:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, "web", [1, 7, 9, 2]),     # framed correctly
                (2, "web", [7, 9, 2]),        # missing BOS
                (3, "web", [1, 7, 9]),        # missing EOS
                (4, "wiki", []),              # empty
                (5, "wiki", None),            # null array
                (6, "wiki", [1, 2]),          # minimal framed
                (7, "wiki", [1, None, 2]),    # inner null is NOT a framing issue
            ],
            "doc_id long, source string, tokens array<int>",
        )

    def test_framing_violations(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck

        suite = ValidationSuite(
            [TokenBoundaryCheck(bos_id=1, eos_id=2)],
            partition_cols=("source",),
            stats_columns=[],
        )
        res = suite.run(self._df(spark), run_id="tb1")
        rows = {r["doc_id"]: r for r in res.violations.collect()}
        assert sorted(rows) == ["2", "3", "4", "5"]
        assert rows["2"]["value"] == "7..2"
        assert rows["3"]["value"] == "1..9"
        assert all(r["kind"] == "invalid" for r in rows.values())
        assert rows["2"]["expected"] == "bos=1,eos=2"
        assert res.failed

    def test_one_sided_and_null_edges(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        only_bos = TokenBoundaryCheck(bos_id=1)
        ids = {r["doc_id"] for r in only_bos.violations(df).collect()}
        assert ids == {"2", "4", "5"}
        only_eos = TokenBoundaryCheck(eos_id=2)
        ids = {r["doc_id"] for r in only_eos.violations(df).collect()}
        assert ids == {"3", "4", "5"}
        # a null FIRST element must read as a violation, not null-prop true
        df2 = spark.createDataFrame(
            [(9, "web", [None, 2])],
            "doc_id long, source string, tokens array<int>",
        ).withColumn("partition_key", partition_key_col(["source"]))
        assert {r["doc_id"] for r in
                TokenBoundaryCheck(bos_id=1).violations(df2).collect()} == {"9"}

    def test_fused_equals_standalone(self, spark):
        from datatest_spark.operators.checks import (
            TokenBoundaryCheck, fuse_row_checks,
        )
        from datatest_spark.operators.stats import partition_key_col

        df = self._df(spark).withColumn(
            "partition_key", partition_key_col(["source"])
        )
        check = TokenBoundaryCheck(bos_id=1, eos_id=2)
        fused = fuse_row_checks(df, [check])
        a = sorted(map(tuple, fused.drop("detail").collect()))
        b = sorted(map(tuple, check.violations(df).drop("detail").collect()))
        assert a == b and len(a) == 4

    def test_requires_a_frame_token(self, spark):
        from datatest_spark.operators.checks import TokenBoundaryCheck

        with pytest.raises(ValueError, match="bos_id and/or eos_id"):
            TokenBoundaryCheck()


class TestFunctionalDependencyCheck:
    def _df(self, spark):
        # within source=web, lang is NOT a function of domain ('a' maps
        # to en/en/de); within wiki the FD holds
        return spark.createDataFrame(
            [
                (1, "web", "a", "en"), (2, "web", "a", "en"),
                (3, "web", "a", "de"), (4, "web", "b", "fr"),
                (5, "wiki", "c", "en"), (6, "wiki", "c", "en"),
            ],
            "doc_id long, source string, dom string, lang string",
        )

    def test_violations_name_key_majority_and_g3(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        suite = ValidationSuite(
            [FunctionalDependencyCheck("dom", "lang")],
            partition_cols=("source",),
            stats_columns=["doc_id"],
        )
        res = suite.run(self._df(spark), run_id="fd1")
        rows = res.violations.collect()
        assert len(rows) == 1
        (r,) = rows
        assert r["check_id"] == "fd_dom_to_lang"
        assert r["partition_key"] == "source=web"
        assert r["value"] == "a" and r["expected"] == "en"
        assert r["deviation"] == 1.0  # one row off the majority
        assert r["detail"]["n_distinct_dep"] == "2"
        assert res.failed
        verdicts = {
            (v["partition_key"], v["check_id"]): v["status"]
            for v in res.verdicts.collect()
        }
        assert verdicts[("source=web", "fd_dom_to_lang")] == "fail"
        assert verdicts[("source=wiki", "fd_dom_to_lang")] == "pass"

    def test_tolerated_rate_passes(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        suite = ValidationSuite(
            [FunctionalDependencyCheck("dom", "lang",
                                       max_violation_rate=0.5)],
            partition_cols=("source",),
            stats_columns=["doc_id"],
        )
        res = suite.run(self._df(spark), run_id="fd2")
        # 1 violating row out of 3 for key 'a' = 0.33 <= 0.5 -> clean
        assert res.violations.count() == 0 and not res.failed

    def test_rate_validated(self, spark):
        from datatest_spark.operators.checks import (
            FunctionalDependencyCheck,
        )

        with pytest.raises(ValueError, match="max_violation_rate"):
            FunctionalDependencyCheck("a", "b", max_violation_rate=1.0)


class TestBenfordCheck:
    def test_uniform_digits_fail_benford_data_passes(self, spark):
        import math
        import random

        from datatest_spark.operators.checks import BenfordCheck

        rng = random.Random(7)
        # 'clean': log-uniform magnitudes follow Benford closely
        clean = [("clean", float(10 ** rng.uniform(0, 4))) for _ in range(600)]
        # 'cooked': uniform [100, 1000) -> uniform first digits, way off
        cooked = [("cooked", float(rng.uniform(100, 1000)))
                  for _ in range(600)]
        df = spark.createDataFrame(clean + cooked, "source string, v double")
        suite = ValidationSuite(
            [BenfordCheck("v")],
            partition_cols=("source",),
            stats_columns=["v"],
        )
        res = suite.run(df, run_id="bf1")
        rows = {r["partition_key"]: r for r in res.violations.collect()}
        assert "source=cooked" in rows
        assert "source=clean" not in rows
        assert rows["source=cooked"]["kind"] == "deviation"
        assert float(rows["source=cooked"]["value"]) > 20.09
        verdicts = {
            (v["partition_key"], v["check_id"]): v["status"]
            for v in res.verdicts.collect()
        }
        assert verdicts[("source=cooked", "benford_v")] == "fail"
        assert verdicts[("source=clean", "benford_v")] == "pass"

    def test_small_partitions_skipped(self, spark):
        from datatest_spark.operators.checks import BenfordCheck

        df = spark.createDataFrame(
            [("tiny", 500.0)] * 10, "source string, v double"
        )
        suite = ValidationSuite(
            [BenfordCheck("v", min_rows=100)],
            partition_cols=("source",),
            stats_columns=["v"],
        )
        res = suite.run(df, run_id="bf2")
        assert res.violations.count() == 0 and not res.failed

    def test_threshold_validated(self, spark):
        from datatest_spark.operators.checks import BenfordCheck

        with pytest.raises(ValueError, match="max_chi2"):
            BenfordCheck("v", max_chi2=0)
