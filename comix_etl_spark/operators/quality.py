"""Data-quality operators (SURVEY.md §2.4 A2/A3 + the 80% guardrail).

The reference's `quality` subcommand runs two scalar probes (null
cover_date count, orphan-issue count — comixcatalog_starter.zip!
etl/etl.py:47-54) and its README documents an unimplemented guardrail
("abort load if batch < 80% of expected", README_TALKING_POINTS.md:9).
Here each check is one aggregate plan; all null-rate metrics for a table
share a single scan (map-side conditional counts, no per-metric rescan).
The orphan probe (A3) is ``relational.orphan_rows``; the ETL pipeline
counts its orphan credits inside its observed staged write instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_counts(columns: Sequence[str]) -> list[Column]:
    """A2 — the [total_rows, null_<c>...] conditional counts as aggregate
    Columns: one definition for ``df.agg`` and for ``df.observe`` (the
    ETL pipeline counts them inside its write pass)."""
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in columns:
        # coalesce: SUM over zero rows is NULL — an EMPTY table must
        # report null_<c> = 0, not a NULL that poisons downstream gates
        aggs.append(F.coalesce(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"null_{c}"))
    return aggs


def duplicate_key_count(df: DataFrame, key: Sequence[str]) -> DataFrame:
    """Natural-key uniqueness probe: rows minus distinct keys.

    The distinct count runs over a STRUCT of the key columns:
    ``count_distinct(a, b)`` skips any tuple with a NULL component, so
    a single all-NULL key row would read as a duplicate — the struct
    (never NULL itself) counts it, matching SQL's
    ``count(DISTINCT (a, b))``."""
    return df.agg(
        (F.count(F.lit(1))
         - F.count_distinct(F.struct(*[F.col(k) for k in key])))
        .alias("duplicate_keys")
    )


def batch_guardrail(n_rows: int, expected: int, threshold: float = 0.8) -> int:
    """The 80% rule: abort (raise) if the batch is short of expectations.

    Driver-side gate before a merge, run once per batch, not per row.
    It takes the batch's row count rather than the batch: each caller
    already counts it inside a wider pass (the pipeline's observed
    pre-pass, run only when a guardrail is set; ``q_audit_trail``'s one
    aggregate), so the gate launches no Spark job of its own.
    """
    if expected > 0 and n_rows < threshold * expected:
        raise ValueError(f"guardrail: batch has {n_rows} rows < {threshold:.0%} of expected {expected}")
    return n_rows


def guardrail_report(batches: DataFrame, batch_key: Sequence[str],
                     expected: DataFrame, *, threshold: float = 0.8,
                     expected_col: str = "expected_rows") -> DataFrame:
    """Declarative form of the 80% rule over MANY batches at once:
    (batch_key..., n_rows, expected_rows, load_ratio, passes).

    ``batch_guardrail`` is the driver-side scalar gate (raise before a
    merge); this is the set-valued report a backfill runs over a whole
    partition grid — one aggregate + one join against the expectation
    table, so auditing 10k batch partitions costs one pass. The join
    is FULL outer: an expected batch with ZERO loaded rows — the worst
    failure — must surface as an n_rows = 0 FAIL row, not silently
    vanish from the report. Batches with no expectation row pass
    vacuously (expected NULL); ratio is rounded to 6dp so the boolean
    derives from the same value on any engine.
    """
    keys = [F.col(k) for k in batch_key]
    counts = batches.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    joined = (counts.join(expected, list(batch_key), "full")
              .withColumn("n_rows", F.coalesce(F.col("n_rows"), F.lit(0))))
    ratio = F.when(F.col(expected_col) > 0,
                   F.round(F.col("n_rows") / F.col(expected_col), 6))
    return (joined
            .withColumn("load_ratio", ratio)
            .withColumn("passes",
                        F.coalesce(F.col("load_ratio") >= threshold, F.lit(True))))


def constraint_report(df: DataFrame, *,
                      not_null: Sequence[str] = (),
                      unique: Sequence[Sequence[str]] = (),
                      checks: Sequence[tuple[str, "F.Column"]] = ()) -> DataFrame:
    """Declarative expectations in ONE pass: long-form report
    (constraint, n_violations, n_rows) for NOT NULL columns, natural-key
    uniqueness, and arbitrary boolean checks (a check column is the
    PASS predicate; nulls count as violations).

    Generalizes the reference's two hand-written probes
    (comixcatalog_starter.zip!etl/etl.py:47-54) into the
    expectations-suite shape modern pipelines gate on. All row-local
    constraints share a single scan and collapse map-side (conditional
    sums); each uniqueness constraint adds one count_distinct in the
    same aggregate — no per-constraint rescan, no driver loop. At
    100 TB the whole report costs one pass over the table plus one
    reduce of a 1-row frame.
    """
    if not (not_null or unique or checks):
        raise ValueError("constraint_report: no constraints declared")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    names: list[str] = []
    for c in not_null:
        names.append(f"not_null:{c}")
        aggs.append(F.coalesce(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"_v{len(names)}"))
    for key in unique:
        kl = list(key)
        names.append("unique:" + ",".join(kl))
        # struct: count null-component key tuples (see duplicate_key_count)
        aggs.append((F.count(F.lit(1))
                     - F.count_distinct(F.struct(*[F.col(k) for k in kl])))
                    .cast("long").alias(f"_v{len(names)}"))
    for label, passes in checks:
        names.append(f"check:{label}")
        aggs.append(F.coalesce(
            F.sum(F.when(passes, 0).otherwise(1)), F.lit(0))
            .cast("long").alias(f"_v{len(names)}"))
    wide = df.agg(*aggs)
    # labels are caller-supplied — escape quotes so a name like
    # "amount isn't negative" can't break (or inject into) the stack SQL
    stack_args = ", ".join(
        "'{}', _v{}".format(n.replace("'", "''"), i + 1)
        for i, n in enumerate(names))
    return wide.select(
        F.expr(f"stack({len(names)}, {stack_args}) AS (constraint, n_violations)"),
        "n_rows")


def logreg_train(df: DataFrame, label, features: list,
                 *, lr: float = 1.0, iters: int = 3) -> list[dict]:
    """Train a logistic-style classifier IN-ENGINE by batch gradient
    descent — the distributed "quality classifier" step of a web-corpus
    pipeline (fastText-shaped: surface features → linear model). Each
    iteration runs TWO scan-local aggregates over the cached feature
    projection — gradient, then the updated weights' exact accuracy —
    plus one count up front; the projection itself is computed once
    (localCheckpoint) so the 2·iters+1 passes reread a narrow
    materialized (y, x0..xk) frame, not the raw corpus.

    Engine-reproducibility contract (what makes the trajectory
    hash-checkable): the sigmoid is the PIECEWISE-RATIONAL surrogate
    ``s(z) = 0.5 + z / (2·(1 + |z|))`` — same monotone S-shape and the
    identical z≥0 decision boundary, but built only from +,·,/,|x|,
    which IEEE 754 rounds correctly, so s is bit-identical on every
    engine (libm ``exp`` is NOT cross-engine stable in the last ulp,
    and iterated weights compound that drift). Per-row gradient
    contributions round to 9dp and accumulate as DECIMAL(38,12) —
    decimal addition is associative, so the gradient is independent of
    partitioning and task order. Weight updates are plain IEEE doubles
    of identical inputs.

    Per iteration: gradient = Σ (s(w·x) − y)·x over the corpus (one
    aggregate, map-side partials), then w ← w − lr·g/n driver-side —
    the classic ``k drivers-rounds`` GD shape (k-center precedent); at
    100 TB each round stays one scan + a |features|-value reduce.

    Returns [{iter, w (list, incl. intercept), acc} ...] — acc is the
    training accuracy of THAT iteration's weights via the exact z≥0
    rule (no sigmoid in the decision, so accuracy is integer-exact).
    """
    n_feat = len(features)
    y = label.cast("double")
    base = df.select(y.alias("_y"),
                     *[feat.cast("double").alias(f"_x{j}")
                       for j, feat in enumerate(features)])
    # 2·iters+1 downstream scans (gradient + accuracy per iteration,
    # plus this count) — materialize the narrow projection ONCE so the
    # feature expressions don't re-run over the raw corpus every pass
    base = base.localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        # fail loud: a silent [] return would read as "trained, no
        # trajectory" and the ZeroDivisionError below is cryptic
        raise ValueError("logreg_train: empty input — nothing to fit")
    w = [0.0] * (n_feat + 1)  # intercept first
    out: list[dict] = []
    for it in range(1, iters + 1):
        z = F.lit(w[0])
        for j in range(n_feat):
            z = z + F.lit(w[j + 1]) * F.col(f"_x{j}")
        s = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
        err = s - F.col("_y")
        aggs = [F.sum(F.round(err, 9).cast("decimal(38,12)"))
                .cast("double").alias("_g0")]
        for j in range(n_feat):
            aggs.append(F.sum(F.round(err * F.col(f"_x{j}"), 9)
                              .cast("decimal(38,12)"))
                        .cast("double").alias(f"_g{j + 1}"))
        g = base.agg(*aggs).collect()[0]
        w = [w[j] - lr * g[f"_g{j}"] / n for j in range(n_feat + 1)]
        # accuracy OF THE UPDATED weights: one more exact integer agg
        z2 = F.lit(w[0])
        for j in range(n_feat):
            z2 = z2 + F.lit(w[j + 1]) * F.col(f"_x{j}")
        hits = base.agg(
            F.sum(F.when((z2 >= 0).cast("int") == F.col("_y").cast("int"),
                         1).otherwise(0)).alias("_h")).collect()[0]["_h"]
        out.append({"iter": it, "w": list(w), "hits": int(hits), "n": n,
                    "acc": int(hits) / n})
    return out
