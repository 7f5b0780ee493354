"""Seeded inputs, cached on disk by (kind, size, seed).

Every generator is driven by a sub-seed derived from the run's ``--seed``,
so one seed always yields the same corpus, drift baseline, batch slices
and assertion mix. The token tables come from the package's own
generator (``datatest_spark.sources.synth``) and keep its defects and the
100x ``web`` skew; one extra defect, out-of-vocabulary token ids, is
added here so the token-range check has something to find.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from .common import derive_seed

VOCAB = 50257
OOV_RATE_PPM = 500  # rows per million whose first token is out of vocab


def _dir_bytes(path) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def cached(cache_dir, key, build):
    """Build ``key`` under ``cache_dir`` once; return (path, meta).

    ``build(tmp_path)`` writes the input and may return extra metadata.
    The directory is renamed into place only after a successful build,
    so an interrupted run never leaves a half-written input behind.
    """
    path = os.path.join(cache_dir, key)
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return path, json.load(fh)
    tmp = path + ".tmp-{0}".format(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    extra = build(tmp) or {}
    meta = dict(extra, gen_s=time.perf_counter() - t0, bytes=_dir_bytes(tmp))
    with open(os.path.join(tmp, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    try:
        os.rename(tmp, path)
    except OSError:  # another run finished the same input first
        shutil.rmtree(tmp, ignore_errors=True)
        with open(meta_path) as fh:
            meta = json.load(fh)
    return path, meta


def _with_oov_tokens(df, seed):
    """Replace the first token of ~OOV_RATE_PPM rows per million with an
    id at or above the vocabulary size."""
    from pyspark.sql import functions as F

    h = F.abs(F.xxhash64(F.lit("oov"), F.lit(seed), F.col("doc_id"),
                         F.col("n_tok"), F.col("source"))) % 1_000_000
    tok = F.col("tokens")
    bad = F.concat(
        F.array((F.lit(VOCAB) + h % 977).cast("int")),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
    )
    return df.withColumn(
        "tokens",
        F.when(tok.isNotNull() & (F.size(tok) > 0) & (h < OOV_RATE_PPM), bad)
        .otherwise(tok),
    )


def token_table(spark, cache_dir, seed, n_rows, tag, files):
    """Tokenized-sequence parquet with ``files`` equal, ordered slices
    (one file per generator partition)."""
    from datatest_spark.sources import synth

    s = derive_seed(seed, tag)

    def build(tmp):
        df = synth.tokenized_sequences(spark, n_rows, seed=s,
                                       num_partitions=files)
        _with_oov_tokens(df, s).write.mode("overwrite").parquet(
            os.path.join(tmp, "data"))
        return {"rows": n_rows, "seed": s}

    return cached(cache_dir, "{0}-n{1}-f{2}-s{3}".format(tag, n_rows, files,
                                                         seed), build)


def reference_table(spark, cache_dir, seed, n_rows, tag):
    """Reference token copy of the ``tag`` table (same derived seed), with
    the generator's corruption and missing rows."""
    from datatest_spark.sources import synth

    s = derive_seed(seed, tag)

    def build(tmp):
        synth.ref_tokens(spark, n_rows, seed=s).write.mode("overwrite") \
            .parquet(os.path.join(tmp, "data"))
        return {"rows": n_rows, "seed": s}

    return cached(cache_dir, "ref-{0}-n{1}-s{2}".format(tag, n_rows, seed),
                  build)


def drift_baseline(spark, cache_dir, seed, n_rows):
    """(n_tok, source) of an independent draw, plus the baseline
    histogram rows the drift check consumes."""
    from datatest_spark.operators.drift import histogram
    from datatest_spark.sources import synth

    s = derive_seed(seed, "baseline")

    def build(tmp):
        out = os.path.join(tmp, "data")
        synth.tokenized_sequences(spark, n_rows, seed=s).select(
            "n_tok", "source").write.mode("overwrite").parquet(out)
        rows = [(r["group"], int(r["bucket"]), float(r["p"]))
                for r in histogram(spark.read.parquet(out)).collect()]
        return {"rows": n_rows, "seed": s, "histogram": sorted(rows)}

    return cached(cache_dir, "baseline-n{0}-s{1}".format(n_rows, seed),
                  build)


ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def orders_table(cache_dir, seed, n_rows):
    """TPC-H ``orders``-shaped parquet with one seeded defect, an unknown
    order status. Written with pyarrow, no Spark."""
    import pandas as pd

    s = derive_seed(seed, "orders")

    def build(tmp):
        rng = random.Random(s)
        keys = list(range(1, n_rows + 1))
        status = [rng.choice(ORDER_STATUS) for _ in keys]
        price = [round(rng.uniform(900.0, 450000.0), 2) for _ in keys]
        prio = [rng.choice(PRIORITIES) for _ in keys]
        for i in rng.sample(range(n_rows), 2):
            status[i] = "X"
        pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": [rng.randrange(1, 1500) for _ in keys],
            "o_orderstatus": status,
            "o_totalprice": price,
            "o_orderpriority": prio,
        }).to_parquet(os.path.join(tmp, "orders.parquet"), index=False)
        return {"rows": n_rows, "seed": s}

    return cached(cache_dir, "orders-n{0}-s{1}".format(n_rows, seed), build)
