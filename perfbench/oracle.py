"""Independent expected outputs, recomputed with DuckDB over the same parquet.

The suite oracle restates every check of ``north_star_suite`` as SQL over
the input files and returns the expected violation count per
(kind, group_key) bucket and check. ``accepted.count(n)`` absorbs the
first ``n`` violations in the engine's documented order (kind, then
group_key with nulls last, ...), which ``expected_after_budget`` models;
where the budget runs out inside a bucket that several checks share,
only that bucket's total is determined and only the total is compared.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

EPS = 1e-9

EXPECTED_TYPES = [("doc_id", "VARCHAR"), ("tokens", "INTEGER[]"),
                  ("n_tok", "INTEGER"), ("source", "VARCHAR")]


def _files(files):
    """SQL list literal of file paths (views take no parameters)."""
    return "[{0}]".format(", ".join(
        "'{0}'".format(f.replace("'", "''")) for f in files))


def _one(con, sql, params=None):
    return con.execute(sql, params or []).fetchone()[0]


def _hist(con, rel, lo, hi, nbins):
    rows = con.execute(
        "SELECT coalesce(source, '__null__') AS g, "
        "CASE WHEN n_tok < ? THEN 0 WHEN n_tok >= ? THEN ? "
        "ELSE CAST(floor((n_tok - ?) * ? / (? - ?)) AS INTEGER) + 1 END AS b, "
        "count(*) FROM {0} WHERE n_tok IS NOT NULL GROUP BY ALL".format(rel),
        [lo, hi, nbins + 1, lo, float(nbins), hi, lo],
    ).fetchall()
    counts = defaultdict(dict)
    for g, b, n in rows:
        counts[g][b] = n
    out = {}
    for g, cells in counts.items():
        total = float(sum(cells.values()))
        out[g] = {b: n / total for b, n in cells.items()}
    return out


def _psi(p, q):
    total = 0.0
    for b in set(p) | set(q):
        pb = max(p.get(b, 0.0), EPS)
        qb = max(q.get(b, 0.0), EPS)
        total += (pb - qb) * math.log(pb / qb)
    return total


def suite_expected(con, data_files, allowed, baseline_files=None,
                   ref_files=None, vocab=50257, max_null_rate=0.01,
                   n_tok_bounds=(1.0, 4096.0), psi_threshold=0.2,
                   lo=0.0, hi=4096.0, nbins=32):
    """Expected pre-acceptance violations: {(kind, group_key): {check: n}}."""
    con.execute("CREATE OR REPLACE TEMP VIEW d AS SELECT * FROM "
                "read_parquet({0})".format(_files(data_files)))
    types = [(r[0], r[1]) for r in con.execute("DESCRIBE d").fetchall()]
    if types != EXPECTED_TYPES:
        raise AssertionError("input schema {0} != {1}".format(
            types, EXPECTED_TYPES))
    buckets = defaultdict(Counter)

    for pk, n, nd, nn, ns, mn, mx in con.execute(
        "SELECT coalesce(source, '__null__'), count(*), "
        "count(*) - count(doc_id), count(*) - count(n_tok), "
        "count(*) - count(source), min(n_tok), max(n_tok) "
        "FROM d GROUP BY 1"
    ).fetchall():
        for col, nulls in (("doc_id", nd), ("n_tok", nn), ("source", ns)):
            if nulls / n > max_null_rate:
                buckets[("deviation", col)]["null_rate"] += 1
        if mn is not None and mn < n_tok_bounds[0]:
            buckets[("deviation", "n_tok__min")]["stat_interval"] += 1
        if mx is not None and mx > n_tok_bounds[1]:
            buckets[("deviation", "n_tok__max")]["stat_interval"] += 1

    buckets[("extra", None)]["uniqueness"] += _one(
        con,
        "SELECT coalesce(sum(c - 1), 0) FROM (SELECT coalesce(source, "
        "'__null__') AS pk, doc_id, count(*) AS c FROM d WHERE doc_id IS "
        "NOT NULL GROUP BY ALL HAVING count(*) > 1)")
    buckets[("extra", None)]["referential"] += _one(
        con,
        "SELECT count(*) FROM d WHERE source IS NULL OR NOT list_contains("
        "?, source)", [list(allowed)])
    buckets[("deviation", None)]["n_tok_consistency"] += _one(
        con,
        "SELECT count(*) FROM d WHERE n_tok IS NOT NULL AND tokens IS NOT "
        "NULL AND len(tokens) <> n_tok")
    buckets[("invalid", None)]["n_tok_consistency"] += _one(
        con, "SELECT count(*) FROM d WHERE n_tok IS NOT NULL AND tokens IS "
             "NULL")
    buckets[("invalid", None)]["token_range"] += _one(
        con,
        "SELECT count(*) FROM d WHERE tokens IS NOT NULL AND len(list_filter("
        "tokens, t -> t IS NULL OR t < 0 OR t >= {0})) > 0".format(int(vocab)))

    if baseline_files is not None:
        con.execute("CREATE OR REPLACE TEMP VIEW b AS SELECT * FROM "
                    "read_parquet({0})".format(_files(baseline_files)))
        cur = _hist(con, "d", lo, hi, nbins)
        base = _hist(con, "b", lo, hi, nbins)
        for g in cur:
            if g not in base:
                buckets[("extra", g)]["distribution_drift"] += 1
            elif _psi(cur[g], base[g]) > psi_threshold:
                buckets[("deviation", g)]["distribution_drift"] += 1
        for g in base:
            if g not in cur:
                buckets[("missing", g)]["distribution_drift"] += 1

    if ref_files is not None:
        con.execute("CREATE OR REPLACE TEMP VIEW r AS SELECT * FROM "
                    "read_parquet({0})".format(_files(ref_files)))
        buckets[("invalid", None)]["token_equality"] += _one(
            con,
            "SELECT count(*) FROM d JOIN r ON d.doc_id = r.doc_id "
            "WHERE d.tokens IS NULL OR d.tokens <> r.tokens")
        buckets[("missing", None)]["token_equality"] += _one(
            con,
            "SELECT count(*) FROM r WHERE NOT EXISTS (SELECT 1 FROM d "
            "WHERE d.doc_id = r.doc_id)")
    return buckets


def expected_after_budget(buckets, budget):
    """Apply a global ``accepted.count(budget)``.

    Returns ``(fixed, region)``: ``fixed`` maps check -> exact remaining
    count; ``region`` is None or ``(caps, total)``, the checks sharing the
    bucket where the budget ran out, each with its extra remaining count
    between 0 and its cap and the extras summing to ``total``.
    """
    fixed = Counter()
    region = None
    order = sorted(buckets, key=lambda k: (k[0], k[1] is None, k[1] or ""))
    for key in order:
        per = {c: n for c, n in buckets[key].items() if n}
        for c in buckets[key]:
            fixed[c] += 0
        total = sum(per.values())
        take = min(budget, total)
        budget -= take
        if take == 0:
            fixed.update(per)
        elif take < total:
            if len(per) == 1:
                (c, n), = per.items()
                fixed[c] += n - take
            else:
                region = (per, total - take)
    return fixed, region


def compare_counts(observed, buckets, budget):
    """Mismatch messages between observed post-acceptance counts per
    check and the oracle's expectation (empty list when they agree)."""
    fixed, region = expected_after_budget(buckets, budget)
    observed = Counter(observed)
    errors = []
    region_checks = set(region[0]) if region else set()
    for c in sorted(set(fixed) | set(observed)):
        if c in region_checks:
            continue
        if observed[c] != fixed[c]:
            errors.append("{0}: observed {1}, expected {2}".format(
                c, observed[c], fixed[c]))
    if region:
        caps, total = region
        extra = {c: observed[c] - fixed[c] for c in caps}
        if (sum(extra.values()) != total
                or any(not 0 <= extra[c] <= caps[c] for c in caps)):
            errors.append("{0}: observed {1} over fixed {2}, expected a "
                          "total of {3}".format(sorted(caps), extra,
                                                dict(fixed), total))
    return errors


def observed_counts(con, files, run_id=None):
    """Violation rows per check in written violation parquet."""
    where = " WHERE run_id = ?" if run_id is not None else ""
    rows = con.execute(
        "SELECT check_id, count(*) FROM read_parquet(?){0} GROUP BY 1"
        .format(where), [list(files)] + ([run_id] if run_id else []),
    ).fetchall()
    return dict(rows)
