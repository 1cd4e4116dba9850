"""U1–U5: the load layer — set-based upsert/merge (SURVEY.md §2.7).

The reference does per-row SELECT-then-INSERT/UPDATE through an ORM
(comixcatalog_starter.zip!etl/load.py; etl/seed/seed_from_marvel.py:207-297).
At 100 TB that's N round trips; here every upsert is one distributed plan:

- insert-if-absent  = left_anti + union        (one shuffle, or broadcast)
- selective update  = full_outer + per-column coalesce
- the incoming batch is deduplicated on the key first, so a merge is
  deterministic regardless of input order (idempotence property tests
  in tests/test_merge.py).

Surrogate ids: a distributed engine can't mint gap-free auto-increments
without serializing through the driver, so merges key on the source's
natural ids. A table without one takes ``F.xxhash64`` of its natural key
columns. Documented deviation (SURVEY §7).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dedup_batch(batch: DataFrame, key: Sequence[str], order_by: Sequence[str] | None = None) -> DataFrame:
    """Collapse an incoming batch to one row per key (last-writer-wins by
    ``order_by`` desc when given, else arbitrary-but-deterministic via
    dropDuplicates)."""
    if not order_by:
        return batch.dropDuplicates(list(key))
    from pyspark.sql import Window

    # deterministic tie-break: two rows tying on order_by would
    # otherwise resolve by partition order (a retry could keep the
    # OTHER row, opening a spurious SCD2 version on replay) — an md5
    # over every remaining column pins the winner on any engine/run.
    # Each value is length-prefixed so NULL, '' and separator-bearing
    # strings all hash distinctly (a plain coalesce+concat_ws would
    # collide NULL with '' and 'a\x1fb' with ('a','b'), reopening the
    # partition-order dependence exactly where the fix matters).
    # BEHAVIOR CHANGE (r8): the length-prefixed tagging hashes tied
    # rows differently from the pre-r8 coalesce+concat_ws form, so a
    # tie CAN elect the other row than earlier deployments did. For
    # rows whose order_by is genuinely unique this is invisible; for
    # pipelines that replay batches emitted before the change against
    # an SCD2 table built by the old code, the first post-upgrade
    # replay of a TIED batch may open one spurious version (new winner
    # vs old landed winner). Run a one-time reconciliation of
    # open-version rows whose attributes are permutation-equal, or pin
    # the old election by pre-deduping historical batches with the old
    # build before replaying. Steady-state behavior is unchanged.
    rest = [c for c in batch.columns
            if c not in set(key) and c not in set(order_by)]
    def _tagged(c: str) -> Column:
        s = F.col(c).cast("string")
        return F.when(s.isNull(), F.lit("N:")).otherwise(
            F.concat(F.lit("V"), F.length(s).cast("string"), F.lit(":"), s))
    tie = (F.md5(F.concat(*[_tagged(c) for c in rest]))
           if rest else F.lit(""))
    w = Window.partitionBy(*key).orderBy(*[F.desc(c) for c in order_by], tie)
    return batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def insert_if_absent(existing: DataFrame, batch: DataFrame, key: Sequence[str]) -> DataFrame:
    """U1/U3 — get_or_create / skip-existing, set-based.

    Reference: comixcatalog_starter.zip!etl/load.py:5-15 (get_or_create),
    etl/seed/seed_from_marvel.py:248-254 (skip when marvel_comic_id seen).
    One left_anti join replaces N existence probes; Catalyst broadcasts
    the smaller side automatically.
    """
    fresh = dedup_batch(batch, key).join(existing, list(key), "left_anti")
    return existing.unionByName(fresh)


def upsert_selective(existing: DataFrame, batch: DataFrame, key: Sequence[str],
                     update_cols: Sequence[str]) -> DataFrame:
    """U2 — insert new rows; for matched keys overwrite only ``update_cols``
    with non-null batch values.

    Reference: comixcatalog_starter.zip!etl/load.py:26-44 (insert new
    issue, else overwrite cover_date/price/isbn/upc/description). The
    classic parquet MERGE: full-outer join on the key + per-column
    conditional. With Delta available this is MERGE WHEN MATCHED
    UPDATE; the semantics here are identical and engine-agnostic.

    Non-update columns use a ROW-PRESENCE test, not value coalesce: a
    matched existing row whose non-update column is legitimately NULL
    must KEEP that NULL — coalesce(existing, batch) would silently pull
    the batch's value into a column the caller asked not to update.
    """
    # explicit aliases: batch frequently derives from existing (same
    # lineage), so existing[c]/batch[c] would be ambiguous self-join refs
    e = existing.withColumn("_in_e", F.lit(True)).alias("_e")
    b = dedup_batch(batch, key).alias("_b")
    ec = lambda c: F.col(f"_e.{c}")  # noqa: E731
    bc = lambda c: F.col(f"_b.{c}")  # noqa: E731
    present = ec("_in_e").isNotNull()
    batch_cols = set(batch.columns)
    keyed = [F.coalesce(ec(k), bc(k)).alias(k) for k in key]
    out_cols = []
    for c in existing.columns:
        if c in key or c == "_in_e":
            continue
        if c in update_cols and c in batch_cols:
            # reference contract: overwrite with NON-NULL batch values
            out_cols.append(F.coalesce(bc(c), ec(c)).alias(c))
        elif c in batch_cols:
            out_cols.append(F.when(present, ec(c)).otherwise(bc(c)).alias(c))
        else:
            out_cols.append(ec(c).alias(c))
    cond = None
    for k in key:
        term = ec(k) == bc(k)
        cond = term if cond is None else (cond & term)
    return e.join(b, on=cond, how="full_outer").select(*keyed, *out_cols)


def upsert_bridge(existing: DataFrame, batch: DataFrame, key: Sequence[str]) -> DataFrame:
    """U4 — role-qualified m:n bridge upsert: the whole row IS the key.

    Reference: comixcatalog_starter.zip!etl/load.py:37-44 (insert
    (issue, creator, role) if that triple is absent).
    """
    return insert_if_absent(existing, batch.select(*key), key)


def snapshot_diff(old: DataFrame, new: DataFrame, key: Sequence[str],
                  compare_cols: Sequence[str]) -> DataFrame:
    """CDC-style snapshot diff: classify every key as inserted ('I'),
    deleted ('D'), or updated ('U'); unchanged rows are dropped.

    Generalizes the reference's upsert family (U1–U5,
    comixcatalog_starter.zip!etl/load.py) from "apply the change" to
    "emit the change set" — the primitive behind incremental refresh and
    audit diffs. Output: key columns, op, then old_<c>/new_<c> per
    compared column.

    One full-outer sort-merge join on the key — a single shuffle each
    side, no window, no collect; at 100 TB both snapshots shuffle once
    and AQE handles key skew. Null-safe comparison (eqNullSafe) so
    NULL→value and value→NULL transitions classify as updates.
    """
    kl = list(key)
    o = old.select(*kl, *[F.col(c).alias(f"old_{c}") for c in compare_cols]) \
        .withColumn("_in_old", F.lit(True))
    n = new.select(*kl, *[F.col(c).alias(f"new_{c}") for c in compare_cols]) \
        .withColumn("_in_new", F.lit(True))
    j = o.join(n, kl, "full_outer")
    changed = None
    for c in compare_cols:
        neq = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        changed = neq if changed is None else (changed | neq)
    op = (
        F.when(F.col("_in_new").isNull(), F.lit("D"))
        .when(F.col("_in_old").isNull(), F.lit("I"))
        .when(changed, F.lit("U"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*kl, "op",
                *[F.col(f"old_{c}") for c in compare_cols],
                *[F.col(f"new_{c}") for c in compare_cols])
    )


def merge_additive_rollup(existing: DataFrame, delta: DataFrame,
                          key: Sequence[str],
                          measures: Sequence[str]) -> DataFrame:
    """Incremental maintenance of an additive rollup: fold a new batch's
    aggregate into a stored aggregate without recomputing history.

    Both inputs are at the same (key → measures) grain with additive
    measures (counts, sums); the merge is one full-outer join +
    per-measure ``coalesce(a,0) + coalesce(b,0)``. The invariant that
    makes a 100 TB rollup maintainable — merge(agg(old), agg(delta)) ==
    agg(old ∪ delta) — holds exactly for additive measures and is
    oracle-checked by the ``incremental_rollup`` registry query (avg,
    distinct etc. are NOT additive: keep (sum, count) pairs or sketches
    instead). Cost is O(|keys touched|), not O(history).
    """
    kl = list(key)
    d = delta.select(*kl, *[F.col(m).alias(f"_d_{m}") for m in measures])
    j = existing.join(d, kl, "full_outer")
    out = j.select(
        *kl,
        *[(F.coalesce(F.col(m), F.lit(0)) + F.coalesce(F.col(f"_d_{m}"), F.lit(0)))
          .alias(m) for m in measures],
    )
    return out


def scd2_apply(existing: DataFrame, batch: DataFrame, key: Sequence[str],
               tracked: Sequence[str], *, eff_col: str = "eff_date") -> DataFrame:
    """Slowly-changing-dimension type-2 merge: version rows instead of
    overwriting them.

    ``existing`` carries (key…, tracked…, valid_from, valid_to,
    is_current) with valid_to NULL on current rows; ``batch`` carries
    (key…, tracked…, eff_col). Semantics per batch key:

    - tracked values differ from the current row → the current row CLOSES
      (valid_to = eff, is_current = false) and a new current version
      opens at eff;
    - tracked values equal → no new version (idempotent re-loads);
    - key unseen → first version opens at eff.
    History rows pass through untouched.

    The temporal generalization of the reference's upsert family
    (comixcatalog_starter.zip!etl/load.py) — "what did this dimension
    row look like when the fact happened" is unanswerable after U2's
    in-place update; SCD2 keeps every version join-able by validity
    range (pair with the as-of join, operators/temporal.py).

    Plan: history passthrough + ONE full-outer join of current rows vs
    the (deduplicated, last-writer-wins) batch — two shuffles total at
    any scale, no windows over the full table. Null-safe comparison so
    NULL→value transitions version correctly.
    """
    kl, tl = list(key), list(tracked)
    cur = existing.filter(F.col("is_current"))
    hist = existing.filter(~F.col("is_current"))
    b = dedup_batch(batch.select(*kl, *tl, eff_col), kl, order_by=[eff_col])
    b = b.select(*kl, *[F.col(c).alias(f"_b_{c}") for c in tl],
                 F.col(eff_col).alias("_eff")).withColumn("_in_b", F.lit(True))
    j = cur.withColumn("_in_cur", F.lit(True)).join(b, kl, "full_outer")
    changed = None
    for c in tl:
        neq = ~F.col(c).eqNullSafe(F.col(f"_b_{c}"))
        changed = neq if changed is None else (changed | neq)
    is_update = F.col("_in_cur").isNotNull() & F.col("_in_b").isNotNull() & changed
    is_insert = F.col("_in_cur").isNull()
    out_cols = [*kl, *tl, "valid_from", "valid_to", "is_current"]
    # current rows that survive unchanged (no batch row, or equal values)
    keep = j.filter(~is_update & ~is_insert).select(*out_cols)
    # closed-out predecessors of updated keys
    closed = (j.filter(is_update)
              .withColumn("valid_to", F.col("_eff"))
              .withColumn("is_current", F.lit(False))
              .select(*out_cols))
    # fresh versions: updates + first-time keys
    opened = (j.filter(is_update | is_insert)
              .select(*kl,
                      *[F.col(f"_b_{c}").alias(c) for c in tl],
                      F.col("_eff").alias("valid_from"),
                      F.lit(None).cast(dict(existing.dtypes)["valid_to"]).alias("valid_to"),
                      F.lit(True).alias("is_current")))
    return hist.select(*out_cols).unionByName(keep).unionByName(closed).unionByName(opened)


def backfill_if_null(existing: DataFrame, patch: DataFrame, key: Sequence[str],
                     fill_col: str) -> DataFrame:
    """U5 — idempotent FK backfill: set the column only where it's NULL.

    Reference: comixcatalog_starter.zip!etl/load.py:22-24 (set
    series.publisher_id only if currently NULL).
    """
    p = dedup_batch(patch.select(*key, fill_col), key) \
        .withColumnRenamed(fill_col, f"_patch_{fill_col}")
    joined = existing.join(p, list(key), "left")
    return joined.withColumn(
        fill_col, F.coalesce(F.col(fill_col), F.col(f"_patch_{fill_col}"))
    ).drop(f"_patch_{fill_col}")


def apply_changelog(snapshot: DataFrame, changes: DataFrame,
                    key: Sequence[str], payload: Sequence[str], *,
                    seq_col: str = "seq", op_col: str = "op") -> DataFrame:
    """Apply an ordered CDC change log (I/U/D rows) onto a snapshot:
    last-op-wins per key, deletes drop the key, inserts/updates replace
    the payload.

    The inverse of ``snapshot_diff`` — together they round-trip, after
    adapting the diff's ``new_<c>`` columns to plain payload names and
    adding a sequence::

        log = diff.select(*key, F.lit(1).alias("seq"), "op",
                          *[F.col(f"new_{c}").alias(c) for c in payload])
        apply_changelog(old, log, key, payload)  # == new

    (``snapshot_diff`` emits old_/new_ pairs and no seq column, so it
    is NOT directly accepted — see tests/test_profile_cdc.py for the
    executable form of this adapter.) This is the primitive behind
    log-shipping replication and incremental table maintenance (the
    reference replays its whole extract instead,
    etl/seed/seed_from_marvel.py:248-254 — set-based netting replaces
    per-row existence probes).

    Plan: the log first NETS to one row per key (max_by over ``seq_col``
    — one shuffle on the key, map-side partial via the max_by aggregate
    state), then a single full-outer join against the snapshot applies
    it. Cost is O(|snapshot| + |log|) with two shuffles total; history
    length only affects the netting aggregate, never the join.
    """
    kl = list(key)
    pl = list(payload)
    # net: keep the terminal operation per key (deterministic if seq is
    # unique per key — callers own that contract, as in any CDC stream)
    net = (changes.groupBy(*kl)
           .agg(F.max_by(F.struct(op_col, *pl), F.col(seq_col)).alias("_last"))
           .select(*kl, F.col(f"_last.{op_col}").alias("_op"),
                   *[F.col(f"_last.{c}").alias(f"_new_{c}") for c in pl]))
    j = snapshot.join(net, kl, "full_outer")
    survives = F.col("_op").isNull() | (F.col("_op") != "D")
    return (j.filter(survives)
            .select(*kl,
                    *[F.when(F.col("_op").isNotNull(), F.col(f"_new_{c}"))
                      .otherwise(F.col(c)).alias(c) for c in pl]))
