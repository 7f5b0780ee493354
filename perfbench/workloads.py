"""The workloads, each a closed loop of one client against the
package's public entry points in a single ``local[nproc]`` session.

``corpus_suite``      ``ValidationSuite.run`` with manifest and sink (the
                      CLI's nightly path) over one token corpus.
``corpus_reference``  the same with ``reference_tokens``, then a resume of
                      the completed run_id. The program gets both wrong
                      today (see README.md), so this workload is run by
                      hand and is not in BENCHMARK.json.
``microbatch_ingest`` ``IncrementalValidator`` batch after batch over
                      ordered slices of a second token table.
``assert_api``        one cycle after another of the seeded assertion mix.

Timed regions contain only calls into the package. Generation, oracles,
status-store reads and layer probes run outside them.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

from . import asserts, data, oracle
from .common import (Clock, RssSampler, cpu_times, median, nproc, proc_cpu_s,
                     stamp, tail)
from .trace import Tracer, install_probes, spark_jobs, union_s

ACCEPT_COUNT = 5  # the suite's accepted.count(...) budget

FULL = dict(corpus_rows=20000, corpus_files=4, batch_rows=5000, batches=6,
            orders_rows=1000, setups=5, warm_suite_ops=2, min_suite_ops=2,
            min_batches=3)
SMOKE = dict(corpus_rows=1200, corpus_files=2, batch_rows=300, batches=2,
             orders_rows=300, setups=2, warm_suite_ops=1, min_suite_ops=1,
             min_batches=2)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "sources.input_bytes": "bytes",
    "stats.pass_s": "s",
    "checks.rowscan_s": "s",
    "checks.rowscan_hit_ratio": "ratio",
    "checks.uniqueness_s": "s",
    "checks.uniqueness_shuffle_bytes": "bytes",
    "drift.check_s": "s",
    "suite.self_s": "s",
    "suite.jobs": "count",
    "suite.tasks": "count",
    "suite.cpu_util": "ratio",
    "suite.scaling_eff": "ratio",
    "acceptances.apply_s": "s",
    "acceptances.absorbed_ratio": "ratio",
    "incremental.write_s": "s",
    "requirements.plan_s": "s",
    "requirements.exec_s": "s",
    "requirements.jobs": "count",
    "validation.self_s": "s",
    "acceptances.driver_s": "s",
    "trace.overhead_s": "s",
}

# layers only ``corpus_reference`` exercises, reported on top of PER_LAYER
REFERENCE_LAYER = {
    "rowpred.token_equality_s": "s",
    "rowpred.token_equality_shuffle_bytes": "bytes",
    "suite.resume_s": "s",
    "suite.resume_input_bytes": "bytes",
}


def rounds(seconds, least):
    """Round numbers for a closed loop that measures the whole number of
    rounds nearest to ``seconds`` (at least ``least``): it stops once
    less than half an average round's time is left."""
    t0 = time.perf_counter()
    i = 0
    while True:
        yield i
        i += 1
        spent = time.perf_counter() - t0
        if i >= least and seconds - spent < spent / i / 2:
            return


class Bench(object):
    """State of one benchmark run: session, inputs, samples, verdicts."""

    def __init__(self, root, workload, seed, seconds, trace, heap,
                 smoke=False):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = SMOKE if smoke else FULL
        self.cores = nproc()
        self.heap = heap
        base = os.path.join(root, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.out = os.path.join(base, "runs", "{0}-{1}-{2}".format(
            workload, seed, os.getpid()))
        self.tmp = os.path.join(base, "tmp", str(os.getpid()))
        self.traces = os.path.join(base, "traces")
        for d in (self.cache, self.out, self.tmp, self.traces):
            os.makedirs(d, exist_ok=True)
        self.trace = trace
        self.tracer = Tracer(trace)
        self.rss = RssSampler([os.getpid()])
        self._attached_until = 0.0
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.inputs = []       # cache metadata of every input used
        self.samples = []      # (seconds, rows or elements, traced?)
        self.report = {}       # named end-to-end figures for humans
        self.layer = {}
        self.starts = []
        self.setups = []
        self.cpu_s = 0.0
        self.wall_s = 0.0

    # -- session -------------------------------------------------------
    def start_session(self, master=None):
        from datatest_spark import get_spark

        spark_tmp = os.path.join(self.tmp, "spark")
        os.makedirs(spark_tmp, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench",
            master=master or "local[{0}]".format(self.cores),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": spark_tmp,
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "wh"),
                # the heap is committed and touched up front (-Xms = -Xmx,
                # pre-touch), so peak RSS does not depend on when G1
                # decides to grow the heap
                "spark.driver.defaultJavaOptions":
                    "-Djava.io.tmpdir={0} -XX:-UsePerfData -Xms{1}m "
                    "-XX:+AlwaysPreTouch".format(spark_tmp, self.heap),
            },
        )
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current()
            .pid())
        if self.jvm_pid not in self.rss.pids:
            self.rss.pids.append(self.jvm_pid)
        return self.spark

    def setup(self, prepare, warm):
        """Set up ``size['setups']`` times and keep the median: session
        start (the first also launches the JVM) through the warm-up
        query. ``prepare`` (input generation, untimed) runs once, between
        the first session start and its warm-up."""
        for i in range(self.size["setups"]):
            if self.spark is not None:
                self.spark.stop()
            with Clock() as c_start:
                self.start_session()
            if i == 0:
                prepare()
            with Clock() as c_warm:
                warm()
            self.starts.append(c_start.s)
            self.setups.append(c_start.s + c_warm.s)

    def stop(self):
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.tmp, ignore_errors=True)

    # -- bookkeeping ---------------------------------------------------
    def verdict(self, name, errors):
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.append((name, errors))

    def timed_op(self, name, fn, rows, **attrs):
        """Run one operation in the closed loop. Returns ``(True, result)``,
        or ``(False, message)`` when it raised: a failed operation counts
        as failed and adds no latency sample."""
        cpu0 = proc_cpu_s(self.jvm_pid)
        try:
            with self.tracer.span(name, **attrs) as sp, Clock() as c:
                result = fn()
        except Exception as e:  # the loop must go on; recorded as failed
            self.verdict(name, ["{0}: {1}".format(type(e).__name__, e)])
            return False, str(e)
        self.cpu_s += proc_cpu_s(self.jvm_pid) - cpu0
        self.wall_s += c.s
        self.samples.append((c.s, rows, self.tracer.enabled))
        if sp is not None:
            sp["attrs"]["seconds"] = c.s
        return True, result

    def alternate_tracing(self, i):
        """Traced runs alternate untraced and traced operations so the
        difference of the two medians gives the tracing overhead."""
        if self.trace:
            self.tracer.enabled = not i % 2

    def run(self):
        steal0 = cpu_times()
        fn = {"corpus_suite": self.corpus_suite,
              "corpus_reference": lambda: self.corpus_suite(reference=True),
              "microbatch_ingest": self.microbatch_ingest,
              "assert_api": self.assert_api}[self.workload]
        try:
            with self.rss:
                fn()
            self.tracer.enabled = self.trace
            self.stamp = stamp(self.root, self.heap, self.cores, steal0,
                               cpu_times())
            return self.result(self.rss.peak_mb)
        finally:
            self.stop()

    # -- results -------------------------------------------------------
    def op_p50(self, traced=None):
        xs = [s for s, _r, t in self.samples if traced is None or t == traced]
        return median(xs)

    def result(self, peak_mb):
        untraced = [s for s, _r, t in self.samples if not t] or \
            [s for s, _r, _t in self.samples]
        rows = sum(r for _s, r, _t in self.samples)
        secs = sum(s for s, _r, _t in self.samples)
        tail_v, tail_p, n = tail(untraced)
        self.report.update({
            "setup_s": median(self.setups),
            "op_p50_s": median(untraced),
            "op_tail_s": tail_v, "op_tail_pct": tail_p, "op_samples": n,
            "op_each_s": [round(x, 4) for x in untraced],
            "rows_per_s": rows / secs if secs else 0.0,
            "peak_rss_mb": peak_mb,
            "failed_frac": self.failed / max(1, self.attempted),
        })
        # the same figures under the names the workload's users know
        prefix = {"microbatch_ingest": "batch",
                  "assert_api": "assert"}.get(self.workload)
        if prefix:
            self.report[prefix + "_p50_s"] = self.report["op_p50_s"]
            self.report[prefix + "_tail_s"] = tail_v
            self.report[prefix + "_tail_pct"] = tail_p
        metrics = {k: self.report[k] for k in END_TO_END}
        if self.trace:
            gen = sum(m["gen_s"] for m in self.inputs)
            self.layer.setdefault("session.start_s", median(self.starts))
            self.layer.setdefault("sources.gen_s", gen)
            self.layer.setdefault("sources.input_bytes",
                                  sum(m["bytes"] for m in self.inputs))
            self.layer.setdefault("suite.cpu_util", self.cpu_s / (
                self.wall_s * self.cores) if self.wall_s else 0.0)
            if all(any(t == flag for _s, _r, t in self.samples)
                   for flag in (True, False)):
                self.layer.setdefault("trace.overhead_s",
                                      self.op_p50(True) - self.op_p50(False))
            units = dict(PER_LAYER)
            if self.workload == "corpus_reference":
                units.update(REFERENCE_LAYER)
            metrics = {k: float(self.layer.get(k, 0.0)) for k in units}
        else:
            units = END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }

    # -- shared pieces -------------------------------------------------
    def jobs_in(self, sp, jobs):
        return [j for j in jobs if sp["start"] <= j["start"] <= sp["end"]]

    def span_stats(self, name, jobs):
        """Per-span self time (wall minus the union of its Spark jobs),
        job and task counts, medians over the spans called ``name``."""
        selfs, njobs, ntasks = [], [], []
        for sp in self.tracer.spans:
            if sp["name"] != name:
                continue
            js = self.jobs_in(sp, jobs)
            busy = union_s([(j["start"], j["end"]) for j in js],
                           sp["start"], sp["end"])
            selfs.append(sp["end"] - sp["start"] - busy)
            njobs.append(len(js))
            ntasks.append(sum(j["tasks"] for j in js))
        return median(selfs), median(njobs), median(ntasks)

    def forced(self, name, make_df):
        """Time a lazy layer frame through execution (noop write)."""
        with self.tracer.span(name) as sp, Clock() as c:
            make_df().write.format("noop").mode("overwrite").save()
        return c.s, sp

    def suite(self, allowed, baseline_rows, reference=None):
        from datatest_spark import accepted
        from datatest_spark.plans.suite import north_star_suite

        return north_star_suite(
            allowed, drift_baseline=baseline_rows, reference_tokens=reference,
            acceptances=[accepted.count(ACCEPT_COUNT)],
        )

    def layer_probes(self, df, baseline_rows, allowed, ref=None):
        """Force each suite layer's public function on ``df`` once."""
        from datatest_spark.operators import checks
        from datatest_spark.operators.drift import DriftCheck
        from datatest_spark.operators.rowpred import token_equality_violations
        from datatest_spark.operators.stats import (column_stats,
                                                    partition_key_col)

        keyed = df.withColumn("partition_key", partition_key_col(["source"]))
        self.layer["stats.pass_s"], _ = self.forced(
            "stats.column_stats",
            lambda: column_stats(df, ("source",), ["doc_id", "n_tok",
                                                   "source"]))
        row_checks = [checks.ReferentialCheck("source", allowed=list(allowed)),
                      checks.ConsistencyCheck(), checks.TokenRangeCheck()]
        self.layer["checks.rowscan_s"], _ = self.forced(
            "checks.fuse_row_checks",
            lambda: checks.fuse_row_checks(keyed, row_checks))
        hits = checks.fuse_row_checks(keyed, row_checks).count()
        self.layer["checks.rowscan_hit_ratio"] = hits / max(1, df.count())
        self.layer["checks.uniqueness_s"], sp_u = self.forced(
            "checks.uniqueness",
            lambda: checks.UniquenessCheck("doc_id").violations(keyed))
        with self.tracer.span("drift.check"), Clock() as c:
            DriftCheck(baseline_rows).drift_violations(keyed)
        self.layer["drift.check_s"] = c.s
        sp_t = None
        if ref is not None:
            self.layer["rowpred.token_equality_s"], sp_t = self.forced(
                "rowpred.token_equality",
                lambda: token_equality_violations(
                    df.select("doc_id", "tokens"), ref))
        jobs = spark_jobs(self.spark)
        self.layer["checks.uniqueness_shuffle_bytes"] = sum(
            j["shuffle_write_bytes"] for j in self.jobs_in(sp_u, jobs))
        if sp_t is not None:
            self.layer["rowpred.token_equality_shuffle_bytes"] = sum(
                j["shuffle_write_bytes"] for j in self.jobs_in(sp_t, jobs))

    def acceptance_probe(self, violations_files):
        """Time ``accepted.count(...).apply`` on written violations; the
        absorbed share is of the rows it was given."""
        from datatest_spark import accepted

        vdf = self.spark.read.parquet(*violations_files)
        self.layer["acceptances.apply_s"], _ = self.forced(
            "acceptances.apply",
            lambda: accepted.count(ACCEPT_COUNT).apply(vdf))
        n_in = vdf.count()
        n_out = accepted.count(ACCEPT_COUNT).apply(vdf).count()
        self.layer["acceptances.absorbed_ratio"] = (
            (n_in - n_out) / n_in if n_in else 0.0)

    def incremental_write_s(self, span_name):
        per = []
        for sp in self.tracer.spans:
            if sp["name"] == span_name:
                per.append(sum(w["end"] - w["start"] for w in
                               self.tracer.descendants(sp, "io.write_parquet")))
        return median(per)

    # -- corpus_suite --------------------------------------------------
    def corpus_suite(self, reference=False):
        """``reference`` adds ``reference_tokens`` to the suite and one
        resume of the last completed run_id after the loop."""
        import duckdb

        from datatest_spark.sources import synth

        z = self.size
        state = {}

        def prepare():
            path, meta = data.token_table(self.spark, self.cache, self.seed,
                                          z["corpus_rows"], "corpus",
                                          z["corpus_files"])
            bpath, bmeta = data.drift_baseline(self.spark, self.cache,
                                               self.seed, z["corpus_rows"])
            self.inputs.extend([meta, bmeta])
            if reference:
                rpath, rmeta = data.reference_table(
                    self.spark, self.cache, self.seed, z["corpus_rows"],
                    "corpus")
                self.inputs.append(rmeta)
                state.update(
                    ref=os.path.join(rpath, "data"),
                    ref_files=sorted(glob.glob(os.path.join(
                        rpath, "data", "*.parquet"))))
            state.update(
                files=sorted(glob.glob(os.path.join(path, "data", "*.parquet"))),
                base_files=sorted(glob.glob(os.path.join(bpath, "data",
                                                         "*.parquet"))),
                baseline=[tuple(r) for r in bmeta["histogram"]],
                rows=meta["rows"], corpus=os.path.join(path, "data"))

        def warm():
            self.spark.read.parquet(state["corpus"]).count()
            if reference:
                self.spark.read.parquet(state["ref"]).count()

        self.setup(prepare, warm)
        if self.trace:
            install_probes(self.tracer)
        allowed = synth.ALLOWED_SOURCES
        man = os.path.join(self.out, "manifest")
        sink = os.path.join(self.out, "sink")

        def make_suite():
            ref = (self.spark.read.parquet(state["ref"]) if reference
                   else None)
            return self.suite(allowed, state["baseline"], ref)

        # warm-up: whole untimed operations into the same manifest and
        # sink. The first run after session start is about 30% slower
        # than the third.
        for w in range(z["warm_suite_ops"]):
            make_suite().run(self.spark.read.parquet(state["corpus"]),
                             run_id="warmup{0}".format(w), manifest_dir=man,
                             violations_sink=sink).unpersist()

        runs = []
        for i in rounds(self.seconds, z["min_suite_ops"]):
            self.alternate_tracing(i)
            run_id = "r{0}".format(i)

            def op():
                suite = make_suite()
                df = self.spark.read.parquet(state["corpus"])
                res = suite.run(df, run_id=run_id, manifest_dir=man,
                                violations_sink=sink)
                return res, [r.asDict() for r in res.verdicts.collect()]

            ok, out = self.timed_op("suite.run", op, state["rows"])
            if ok:
                res, verdicts = out
                res.unpersist()
                runs.append((run_id, verdicts, res.n_rows_total))
        self.tracer.enabled = self.trace

        if not runs:
            return
        self.report["suite_s"] = self.op_p50(False) if self.trace else \
            self.op_p50()
        last_id, last_verdicts, last_rows = runs[-1]
        if reference:
            # one retry of the last completed run_id: validates nothing
            try:
                with self.tracer.span("suite.resume") as sp_r, Clock() as c:
                    res = make_suite().run(
                        self.spark.read.parquet(state["corpus"]),
                        run_id=last_id, manifest_dir=man,
                        violations_sink=sink)
                    resumed = [r.asDict() for r in res.verdicts.collect()]
            except Exception as e:  # recorded as a failed operation
                self.verdict("resume", ["{0}: {1}".format(type(e).__name__,
                                                          e)])
                return
            res.unpersist()
            self.report["resume_s"] = c.s

        # oracles (untimed)
        con = duckdb.connect()
        buckets = oracle.suite_expected(
            con, state["files"], allowed, baseline_files=state["base_files"],
            ref_files=state.get("ref_files"))
        for run_id, verdicts, n_rows in runs:
            files = glob.glob(os.path.join(sink, "run_id=" + run_id,
                                           "*.parquet"))
            obs = oracle.observed_counts(con, files)
            errs = oracle.compare_counts(obs, buckets, ACCEPT_COUNT)
            errs += _verdict_errors(verdicts, obs)
            if n_rows != state["rows"]:
                errs.append("n_rows_total {0} != {1}".format(n_rows,
                                                             state["rows"]))
            self.verdict(run_id, errs)
        if reference:
            self.verdict("resume", _resume_errors(last_verdicts, resumed)
                         + ([] if res.n_rows_total == last_rows else
                            ["resume n_rows_total {0} != {1}".format(
                                res.n_rows_total, last_rows)]))

        if self.trace:
            jobs = self.attach_jobs()
            (self.layer["suite.self_s"], self.layer["suite.jobs"],
             self.layer["suite.tasks"]) = self.span_stats("suite.run", jobs)
            ref = None
            if reference:
                self.layer["suite.resume_s"] = c.s
                self.layer["suite.resume_input_bytes"] = sum(
                    j["input_bytes"] for j in self.jobs_in(sp_r, jobs))
                ref = self.spark.read.parquet(state["ref"])
            df = self.spark.read.parquet(state["corpus"])
            self.layer_probes(df, state["baseline"], allowed, ref)
            self.acceptance_probe(glob.glob(os.path.join(
                sink, "run_id=" + last_id, "*.parquet")))
            self.incremental_probe(state["files"][0], allowed,
                                   state["baseline"])
            self.attach_jobs()
            self.scaling_probe(make_suite, state)
            self.finish_trace()

    def incremental_probe(self, file, allowed, baseline):
        from datatest_spark.streaming.incremental import IncrementalValidator

        iv = IncrementalValidator(self.suite(allowed, baseline),
                                  os.path.join(self.out, "probe-stream"),
                                  run_prefix="probe")
        with self.tracer.span("incremental.batch"):
            iv(self.spark.read.parquet(file), 0)
        self.layer["incremental.write_s"] = self.incremental_write_s(
            "incremental.batch")

    def scaling_probe(self, make_suite, state):
        """rows/s at local[1] against local[nproc] (diagnostic only)."""
        rps_n = state["rows"] / self.op_p50()
        self.spark.stop()
        self.start_session(master="local[1]")
        with Clock() as c:
            make_suite().run(self.spark.read.parquet(state["corpus"]),
                             run_id="scaling").unpersist()
        rps_1 = state["rows"] / c.s
        self.layer["suite.scaling_eff"] = rps_n / (rps_1 * self.cores)

    def attach_jobs(self):
        """Attach the jobs not attached yet (the status store belongs to
        the current SparkContext, so call this before restarting it)."""
        jobs = spark_jobs(self.spark, since_s=self._attached_until)
        self.tracer.attach_jobs(jobs)
        if jobs:
            self._attached_until = max(j["start"] for j in jobs) + 1e-6
        return jobs

    def finish_trace(self):
        self.attach_jobs()
        self.tracer.write(os.path.join(self.traces, "{0}-{1}-{2}.json".format(
            self.workload, self.seed, self.tracer.trace_id)))

    # -- microbatch_ingest ---------------------------------------------
    def microbatch_ingest(self):
        import duckdb

        from datatest_spark.sources import synth
        from datatest_spark.streaming.incremental import IncrementalValidator

        z = self.size
        state = {}

        def prepare():
            path, meta = data.token_table(
                self.spark, self.cache, self.seed,
                z["batch_rows"] * z["batches"], "micro", z["batches"])
            bpath, bmeta = data.drift_baseline(self.spark, self.cache,
                                               self.seed, z["batch_rows"] * 4)
            for m in (meta, bmeta):
                self.inputs.append(m)
            state.update(
                slices=sorted(glob.glob(os.path.join(path, "data",
                                                     "*.parquet"))),
                base_files=sorted(glob.glob(os.path.join(bpath, "data",
                                                         "*.parquet"))),
                baseline=[tuple(r) for r in bmeta["histogram"]])

        def warm():
            self.spark.read.parquet(state["slices"][0]).count()

        self.setup(prepare, warm)
        if self.trace:
            install_probes(self.tracer)
        allowed = synth.ALLOWED_SOURCES
        suite = self.suite(allowed, state["baseline"])
        IncrementalValidator(suite, os.path.join(self.out, "warm"))(
            self.spark.read.parquet(state["slices"][0]), 0)

        stream = os.path.join(self.out, "stream")
        iv = IncrementalValidator(suite, stream, run_prefix="b")
        done = []
        for b in rounds(self.seconds, z["min_batches"]):
            self.alternate_tracing(b)
            f = state["slices"][b % len(state["slices"])]
            rows = z["batch_rows"]
            ok, _ = self.timed_op(
                "incremental.batch",
                lambda f=f, b=b: iv(self.spark.read.parquet(f), b), rows)
            if ok:
                done.append((b, f))
        self.tracer.enabled = self.trace

        con = duckdb.connect()
        vfiles = glob.glob(os.path.join(stream, "violations", "*.parquet"))
        dfiles = glob.glob(os.path.join(stream, "verdicts", "*.parquet"))
        expected = {}
        for b, f in done:
            if f not in expected:
                expected[f] = oracle.suite_expected(
                    con, [f], allowed, baseline_files=state["base_files"])
            run_id = "b-{0}".format(b)
            obs = oracle.observed_counts(con, vfiles, run_id)
            errs = oracle.compare_counts(obs, expected[f], ACCEPT_COUNT)
            ver = con.execute(
                "SELECT check_id, status, n_violations FROM read_parquet(?) "
                "WHERE run_id = ?", [dfiles, run_id]).fetchall()
            errs += _verdict_errors(
                [dict(check_id=c, status=s, n_violations=n)
                 for c, s, n in ver], obs)
            self.verdict(run_id, errs)

        if self.trace:
            jobs = self.attach_jobs()
            (self.layer["suite.self_s"], self.layer["suite.jobs"],
             self.layer["suite.tasks"]) = self.span_stats(
                "incremental.batch", jobs)
            self.layer["incremental.write_s"] = self.incremental_write_s(
                "incremental.batch")
            self.layer_probes(self.spark.read.parquet(state["slices"][0]),
                              state["baseline"], allowed)
            self.acceptance_probe(vfiles)
            self.finish_trace()

    # -- assert_api ----------------------------------------------------
    def assert_api(self):
        from datatest_spark import ValidationError

        z = self.size
        state = {}

        def prepare():
            path, meta = data.orders_table(self.cache, self.seed,
                                           z["orders_rows"])
            self.inputs.append(meta)
            state["orders"] = os.path.join(path, "orders.parquet")

        def warm():
            self.spark.read.parquet(state["orders"]).count()

        self.setup(prepare, warm)
        if self.trace:
            install_probes(self.tracer)
        api = _Api(self.spark, state["orders"])
        rng = random.Random(self.seed)
        cases = asserts.build_cases(rng, state["orders"])

        def call(case):
            try:
                return "ok", case.call(api)
            except ValidationError as e:
                return "err", e.differences

        # warm-up: one whole untimed cycle. The first call of each case
        # pays class loading, query compilation and JIT, which make a
        # cold cycle about 40% slower than the next and vary run to run.
        for case in cases:
            try:
                out = call(case)
            except Exception as e:  # recorded as a failed operation
                self.verdict("warmup " + case.name,
                             ["{0}: {1}".format(type(e).__name__, e)])
                continue
            self.verdict("warmup " + case.name, _assert_errors(case, out))

        # whole cycles only, so every run samples the same mix
        outcomes = []
        overheads = []
        for _cycle in rounds(self.seconds, 1):
            for k, case in enumerate(cases):
                # a traced run calls each case twice, traced and untraced
                # in alternating order; the tracing overhead is the median
                # of the differences within those pairs
                pair = {}
                for j in range(2 if self.trace else 1):
                    self.alternate_tracing(k + j)
                    ok, out = self.timed_op(
                        "validate.call", lambda: call(case),
                        case.n_elements, case=case.name)
                    if ok:
                        outcomes.append((case, out))
                        pair[self.tracer.enabled] = self.samples[-1][0]
                if len(pair) == 2:
                    overheads.append(pair[True] - pair[False])
        self.tracer.enabled = self.trace
        for case, out in outcomes:
            self.verdict(case.name, _assert_errors(case, out))

        if self.trace:
            jobs = self.attach_jobs()
            plan, exe, njobs, selfs, acc = [], [], [], [], []
            for sp in self.tracer.spans:
                if sp["name"] != "validate.call":
                    continue
                plans = self.tracer.descendants(sp, "requirements.plan")
                accs = self.tracer.descendants(sp, "acceptances.driver")
                js = self.tracer.descendants(sp, "spark.job")
                plan.append(sum(p["end"] - p["start"] for p in plans))
                exe.append(union_s([(j["start"], j["end"]) for j in js],
                                   sp["start"], sp["end"]))
                njobs.append(len(js))
                selfs.append(sp["end"] - sp["start"] - union_s(
                    [(s["start"], s["end"]) for s in plans + accs + js],
                    sp["start"], sp["end"]))
                if accs:
                    acc.append(sum(a["end"] - a["start"] for a in accs))
            self.layer.update({
                "requirements.plan_s": median(plan),
                "requirements.exec_s": median(exe),
                "requirements.jobs": median(njobs),
                "validation.self_s": median(selfs),
                "acceptances.driver_s": median(acc),
                "trace.overhead_s": median(overheads),
            })
            self.finish_trace()


class _Api(object):
    """What an assertion case may call: the public API plus inputs."""

    def __init__(self, spark, orders_path):
        import pandas as pd

        from datatest_spark import accepted, valid, validate

        self.spark = spark
        self.pd = pd
        self.validate = validate
        self.valid = valid
        self._accepted = accepted
        self._orders_path = orders_path

    def orders(self):
        return self.spark.read.parquet(self._orders_path)

    def accept_missing(self, data, requirement):
        from datatest_spark import Missing

        with self._accepted(Missing):
            self.validate(data, requirement)


def _verdict_errors(verdicts, observed):
    """Verdict rows must agree with the written violations per check."""
    per = {}
    errs = []
    for v in verdicts:
        per[v["check_id"]] = per.get(v["check_id"], 0) + v["n_violations"]
        if (v["status"] == "fail") != (v["n_violations"] > 0):
            errs.append("verdict {0}".format(v))
    for c in set(per) | set(observed):
        if per.get(c, 0) != observed.get(c, 0):
            errs.append("verdicts count {0} violations for {1}, sink has "
                        "{2}".format(per.get(c, 0), c, observed.get(c, 0)))
    return errs


def _resume_errors(original, resumed):
    """A retry of a completed run_id re-emits the recorded verdicts."""
    key = lambda v: (v["partition_key"], v["check_id"], v["status"],
                     v["n_violations"])
    want = sorted(key(v) for v in original
                  if v["partition_key"] != "__global__")
    got = sorted(key(v) for v in resumed)
    if want == got:
        return []
    fails_first = lambda k: (k[2] != "fail", k)
    extra = sorted(set(got) - set(want), key=fails_first)[:5]
    lost = sorted(set(want) - set(got), key=fails_first)[:5]
    return ["resumed verdicts differ: {0} unexpected (e.g. {1}), {2} "
            "missing (e.g. {3})".format(len(set(got) - set(want)), extra,
                                        len(set(want) - set(got)), lost)]


def _assert_errors(case, out):
    kind, value = out
    exp = case.expected
    if isinstance(exp, bool):
        return [] if value is exp else ["valid() returned {0!r}, expected "
                                        "{1!r}".format(value, exp)]
    if not exp:
        return [] if kind == "ok" else ["unexpected differences {0!r}".format(
            value)]
    if kind == "ok":
        return ["passed, expected differences {0}".format(exp)]
    got = asserts.normalize(value)
    return [] if got == exp else ["differences {0} != expected {1}".format(
        got, exp)]
