"""Physical-plan hygiene gates: the PLANS.md scale claims asserted
against `explain` output so a refactor that silently de-optimizes a
plan (adds an exchange to a scan-local op, drops a broadcast, loses
parquet pushdown) fails here instead of at 100 TB.

Asserted at sf0.001 — plan SHAPE is scale-independent for these
queries (broadcast sides are dimension tables that stay under the
threshold at any SF; scan-local ops have no join at all).
"""

from __future__ import annotations

import ast
import io
import pathlib
import re
from contextlib import redirect_stdout
from functools import partial

import pytest

from comix_etl_spark.plans.queries import QUERIES

# Queries PLANS.md documents as scan-local: pure WholeStageCodegen over
# the parquet scan, zero Exchange nodes.
SCAN_LOCAL = [
    "token_counts", "doc_fingerprint", "pii_scrub", "doc_quality",
    "chunk_documents", "search_substring",
    # r4: int8 quantization and the frame grid are pure array expressions
    "quantize_embeddings", "multimodal_frames",
]

# Queries whose dimension join must be a broadcast (fact side never
# shuffles on the join key).
BROADCAST_DIM = [
    "stats_topk", "segment_totals", "semi_join",
    # r4: the per-group moment/average tables must broadcast back onto
    # the fact scan — a sort-merge here would shuffle the fact side
    "spend_zscore", "small_qty_revenue",
    # r5 TPC-H batch: every dim (and the date-pruned orders slice in
    # Q10) must broadcast onto lineitem — a sort-merge would shuffle
    # the fact table for a filter-sized side
    "promo_share", "bracket_revenue", "returned_items",
]


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", SCAN_LOCAL)
def test_scan_local_queries_have_no_exchange(spark, sf_small, name):
    plan = _plan(QUERIES[name].builder(spark, sf_small))
    assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


@pytest.mark.parametrize("name", BROADCAST_DIM)
def test_dimension_joins_broadcast(spark, sf_small, name):
    plan = _plan(QUERIES[name].builder(spark, sf_small))
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, f"{name} sort-merges a dimension:\n{plan}"


def test_pushdown_reaches_parquet_scan(spark, sf_small):
    # keyed_scan's equality filter must appear in PushedFilters, and the
    # scan schema must be pruned to the selected columns only.
    plan = _plan(QUERIES["keyed_scan"].builder(spark, sf_small))
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo" in ln or "IsNotNull" in ln for ln in pushed), plan


def test_topk_uses_take_ordered(spark, sf_small):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject, never a
    # global sort of the full table.
    plan = _plan(QUERIES["stats_topk"].builder(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan


def test_partitioned_write_prunes_partitions(spark, sf_small, tmp_path):
    # A lang-partitioned table read with a lang filter must prune at the
    # partition level: the filter shows up as a PartitionFilters entry
    # on the scan, and non-matching partitions are never listed as data
    # filters (nothing to evaluate row-side). This is the layout that
    # turns a 100 TB full scan into a single-partition read.
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    target = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(target)
    got = spark.read.parquet(target).filter("lang = 'en'")
    plan = _plan(got)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0], plan
    assert got.count() == docs.filter("lang = 'en'").count() > 0


def test_plan_summary_structure(spark, sf_small):
    """plan_summary must see the broadcast join and pushdown in a
    dimension-join query, and zero exchanges in a scan-local one."""
    from comix_etl_spark.plans.introspect import plan_summary

    topk = plan_summary(QUERIES["stats_topk"].builder(spark, sf_small))
    assert topk.n_broadcast_hash_joins >= 1
    assert topk.n_sort_merge_joins == 0
    assert topk.n_scans == 2
    assert topk.pushed_filters  # IsNotNull on the join key reaches parquet

    local = plan_summary(QUERIES["token_counts"].builder(spark, sf_small))
    assert local.shuffle_free
    assert local.n_scans == 1
    assert local.codegen_spans >= 1


def test_bm25_stays_broadcast_and_take_ordered(spark, sf_small):
    """bm25_search's corpus-stats must ride a broadcast (nested-loop on
    a 1-row aggregate), never a sort-merge, and the top-20 must compile
    to TakeOrderedAndProject — not a global sort."""
    plan = _plan(QUERIES["bm25_search"].builder(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_take_ordered(spark, sf_small):
    """The Efraimidis–Spirakis selection is ORDER BY + LIMIT over a
    scan-local score: TakeOrderedAndProject, no full-table exchange
    before the top-k."""
    plan = _plan(QUERIES["weighted_sample"].builder(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_discount_revenue_pure_pushdown(spark, sf_small):
    """The Q6 shape must be one scan, one exchange (the 1-row global
    agg), zero joins, with predicates reaching parquet."""
    from comix_etl_spark.plans.introspect import plan_summary

    s = plan_summary(QUERIES["discount_revenue"].builder(spark, sf_small))
    assert s.n_scans == 1 and s.n_exchanges == 1
    assert s.n_broadcast_hash_joins == 0 and s.n_sort_merge_joins == 0
    assert s.pushed_filters, "Q6 predicates must reach the parquet scan"


def test_local_supplier_volume_broadcasts_dims(spark, sf_small):
    """The Q5 shape must broadcast every dimension — no sort-merge
    joins at test scale."""
    from comix_etl_spark.plans.introspect import plan_summary

    s = plan_summary(QUERIES["local_supplier_volume"].builder(spark, sf_small))
    assert s.n_broadcast_hash_joins >= 3
    assert s.n_sort_merge_joins == 0


def test_gram_covariance_never_shuffles_corpus(spark, sf_small):
    """The covariance partials must merge without a sort-merge join,
    and the three consuming branches must read the CHECKPOINTED
    partial frame — zero parquet scans in the final plan (the corpus
    was scanned exactly once, at checkpoint materialization)."""
    from comix_etl_spark.plans.introspect import plan_summary

    df = QUERIES["gram_covariance"].builder(spark, sf_small)
    s = plan_summary(df)
    assert s.n_sort_merge_joins == 0
    assert "parquet" not in _plan(df).lower()


def test_every_query_emits_only_scalar_columns(spark, sf_small):
    """The driver's correctness harness canonicalizes results with a
    pandas sort_values over every column — an array/map/struct output
    column raises "unhashable type: 'list'" and BURNS the query's
    verification slot (jl_projection, r6). Non-scalar intermediates are
    fine; the FINAL schema of every registry query must be scalar-only
    (explode to rows or fingerprint to a string instead)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, q in QUERIES.items():
        for f in q.builder(spark, sf_small).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, bad


def test_bpe_tokenize_vocab_map_broadcasts(spark, sf_small):
    """The word → subword-cost map must reach the corpus word stream as
    a broadcast join — a shuffle join here would move the whole corpus
    word stream for a Zipf-bounded dictionary."""
    from comix_etl_spark.plans.introspect import plan_summary

    s = plan_summary(QUERIES["bpe_tokenize"].builder(spark, sf_small))
    # the vocab-cost map joins broadcast; the final doc-level left join
    # may legitimately SMJ (both sides are doc-cardinality at scale)
    assert s.n_broadcast_hash_joins >= 1


def test_dedup_incremental_no_corpus_self_join(spark, sf_small):
    """The incremental screen joins batch bands × corpus bands and
    candidates × shingles — there must be no SMJ of the corpus against
    itself (the plan's joins are bounded by candidates, and at this
    scale every join side broadcasts)."""
    from comix_etl_spark.plans.introspect import plan_summary

    s = plan_summary(QUERIES["dedup_incremental"].builder(spark, sf_small))
    assert s.n_sort_merge_joins == 0


def test_dsir_target_filter_pushed_and_ratio_broadcast(spark, sf_small):
    # The lang='en' target predicate must reach the parquet scan, and
    # the bucket ratio table must come back as a broadcast join (never
    # a corpus-side shuffle on the bucket key).
    from comix_etl_spark.plans.introspect import plan_summary

    df = QUERIES["dsir_weights"].builder(spark, sf_small)
    plan = _plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo(lang,en)" in ln for ln in pushed), plan
    s = plan_summary(df)
    assert s.n_broadcast_hash_joins >= 1, s
    assert s.n_sort_merge_joins == 0, s


def test_url_dedup_single_scan_no_joins(spark, sf_small):
    # Canonicalization is scan-local: one documents scan, no join of
    # any kind; the only exchanges are the canon groupBy, the host
    # window, and the output sort.
    from comix_etl_spark.plans.introspect import plan_summary

    s = plan_summary(QUERIES["url_dedup"].builder(spark, sf_small))
    assert s.n_scans == 1, s
    assert s.n_sort_merge_joins == 0 and s.n_broadcast_hash_joins == 0, s
    assert s.n_exchanges <= 3, s


def test_dedup_store_probe_verify_stage_shape(spark, sf_small):
    # The store probe materializes its candidates at build time (the
    # bucketed store scan + broadcast band join run ONCE, eagerly), so
    # the returned plan is the VERIFY stage only: the pinned candidate
    # frame as Scan ExistingRDD, exactly two documents text scans
    # (batch shingles + semi-join-bounded corpus fetch) with the %10
    # split pushed down, zero sort-merge joins, and no re-signing (no
    # md5 minhash aggregate anywhere in the verify plan).
    from comix_etl_spark.plans.introspect import plan_summary

    df = QUERIES["dedup_store_probe"].builder(spark, sf_small)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("documents.parquet") == 2, plan
    assert "min(" not in plan, plan  # signatures never recompute here
    s = plan_summary(df)
    assert s.n_sort_merge_joins == 0, s
    assert s.n_broadcast_hash_joins >= 2, s


def test_hybrid_store_rrf_probe_side_plan(spark, sf_small):
    # The store-backed hybrid's serving contract (r13): after the two
    # eager store builds, the RETURNED plan must (a) bucket-prune the
    # BM25 postings scan (SelectedBucketsCount from the term IN filter),
    # (b) partition-prune the IVF-PQ store scan to the probed lists
    # (centroid_id PartitionFilters), and (c) never touch the text
    # corpus — documents.parquet must not appear (embeddings.parquet
    # legitimately does: the dense arm's bounded exact re-rank reads
    # raw vectors).
    df = QUERIES["hybrid_store_rrf"].builder(spark, sf_small)
    plan = _plan(df)
    assert "documents.parquet" not in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    i = plan.index("PartitionFilters: [")
    assert "centroid_id" in plan[i:i + 200], plan[i:i + 200]


def test_bm25_store_probe_bucket_pruned_scan(spark, sf_small):
    # The BM25 store probe's whole value is never touching the corpus at
    # query time: its plan must read the bucketed postings TABLE (not
    # documents.parquet — the build runs eagerly before the returned
    # plan), bucket-prune the term scan (SelectedBucketsCount from the
    # IN filter on the bucketing column), broadcast the tiny per-term
    # df aggregate, and never re-tokenize (no split/explode of text).
    from comix_etl_spark.plans.introspect import plan_summary

    df = QUERIES["bm25_store_probe"].builder(spark, sf_small)
    plan = _plan(df)
    assert "documents.parquet" not in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    s = plan_summary(df)
    assert s.n_sort_merge_joins == 0, s
    assert s.n_broadcast_hash_joins == 1, s


# Each hash-checked `*_det` twin is its rows-only sibling's builder bound
# to a deterministic fixture (hash family, planes, centroids, codebooks),
# so the oracle-checked path is the sibling's own code.
TWINS = {
    "ann_lsh": "ann_lsh_det", "ann_ivf": "ann_ivf_det",
    "ann_pq": "ann_pq_det", "ann_ivf_pq": "ann_ivf_pq_det",
    "minhash_lsh": "minhash_lsh_det", "simhash_pairs": "simhash_det",
    "dedup_clusters_lsh": "dedup_clusters_lsh_det",
}


@pytest.mark.parametrize("sibling", TWINS)
def test_det_twin_binds_its_sibling_builder(sibling):
    twin = QUERIES[TWINS[sibling]].builder
    assert isinstance(twin, partial), f"{TWINS[sibling]} is not a binding"
    assert twin.func is QUERIES[sibling].builder, twin.func


REPO = pathlib.Path(__file__).resolve().parent.parent
ENGINE = REPO / "comix_etl_spark"
_DOTTED = re.compile(r"[A-Za-z_][\w.]*")

# Public engine functions that nothing in the program calls, kept on
# purpose. Every other one needs a caller outside tests.
NO_CALLER_OK = {
    "plan_summary": "plan introspection API; tests read plan shapes with it",
    **{f"foreach_batch_{k}": "streaming sink of the continuous-ingest loop "
       "(ROADMAP #1), driven by the streaming tests until the loop lands"
       for k in ("dedup_ingest", "ann_ingest", "upsert", "drift",
                 "heavy_hitters", "cms")},
    "write_csv_report": "S10 sink: the missing-covers CSV report",
    "write_json_records": "S11 sink: JSON-lines records",
    "write_binary_payloads": "S9 sink: cover bytes written per partition",
    "read_binary_files": "S9 re-ingest of the binary sink's files",
    "bootstrap_tables": "S13 sink: idempotent DDL bootstrap",
    "hamming_probe_from_store": "the persisted fingerprint store's "
        "cross-set probe; no registry query probes that store yet",
}


def _engine_functions() -> dict[str, str]:
    """Top-level public ``def``s under comix_etl_spark/, less the
    registry's ``q_*`` builders: {name: module path}."""
    out = {}
    for path in sorted(ENGINE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.name.startswith(("_", "q_"))):
                out[node.name] = str(path.relative_to(REPO))
    return out


def _program_references() -> set[str]:
    """Every name the program uses: loaded names, attribute names and
    dotted string constants (perfbench/trace.py names its targets as
    strings). Imports bind rather than use, package ``__init__``s only
    re-export, tests are not callers, and a top-level function's
    references to its own name do not count."""
    paths = [REPO / "bench.py",
             *(p for root in ("comix_etl_spark", "perfbench", "scripts")
               for p in (REPO / root).rglob("*.py")
               if p.name != "__init__.py" and "tests" not in p.parts)]
    used: set[str] = set()
    for path in paths:
        for top in ast.parse(path.read_text()).body:
            own = getattr(top, "name", None)
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    names = {node.id}
                elif isinstance(node, ast.Attribute):
                    names = {node.attr}
                elif (isinstance(node, ast.Constant)
                      and isinstance(node.value, str)
                      and _DOTTED.fullmatch(node.value)):
                    names = set(node.value.split("."))
                else:
                    continue
                used |= names - {own}
    return used


def test_every_public_engine_function_has_a_caller():
    """An engine function only tests call is code the program does not
    need: give it a caller, delete it, or allowlist it with a reason."""
    functions, used = _engine_functions(), _program_references()
    orphans = {n: m for n, m in functions.items()
               if n not in used and n not in NO_CALLER_OK}
    assert not orphans, f"no caller outside tests: {orphans}"
    stale = sorted(n for n in NO_CALLER_OK
                   if n not in functions or n in used)
    assert not stale, f"allowlisted but gone or now called: {stale}"
