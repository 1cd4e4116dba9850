"""The benchmark workloads, each a closed loop with one client.

A workload's ``setup`` lands its fixtures and warms every op type; after
that the timed loop in ``worker.py`` repeatedly calls ``next_op`` and
times only the returned op's ``run``. ``check`` (untimed) compares the
op's result with the answer known from the generator or from DuckDB; a
mismatch counts the op as failed.

Every engine call goes through the module objects imported below
(``pipeline.run_marvel_batch``, ``relational.search_substring``, ...), so
the traced run can wrap those attributes with spans (``trace.py``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    kind: str                       # the op type its latency is filed under
    run: Callable[[], Any]          # the timed call; returns its result
    check: Callable[[Any], bool]    # untimed correctness check


def _engine():
    """Engine modules, imported after the worker has set the Spark
    environment (warehouse, local dirs, event log)."""
    from comix_etl_spark import pipeline, session
    from comix_etl_spark.operators import audit, dedup, relational, similarity
    from comix_etl_spark.sinks import writers
    from comix_etl_spark.sources import json_source

    return dict(pipeline=pipeline, session=session, audit=audit, dedup=dedup,
                relational=relational, similarity=similarity, writers=writers,
                json_source=json_source)


def _load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


class EtlBatch:
    """Marvel payload batches through ``pipeline.run_marvel_batch``.

    Each op loads one batch onto a fresh copy of the baseline catalog
    (the copy is untimed), so every op does the same work: the table
    lands ``base + batch/2`` rows whatever the op's position in the run.
    """

    name = "etl_batch"
    warmup_ops = 6

    def __init__(self, inputs: str, work: str):
        self.inputs, self.work = inputs, work
        self.expected = _load_json(os.path.join(inputs, "expected.json"))
        self.n_pool = len(self.expected["batches"])
        self.base = os.path.join(work, "base_table")
        self.target = os.path.join(work, "target")
        self.audit_path = os.path.join(work, "audit")
        self.i = 0
        self.audited = 0

    def setup(self, spark) -> None:
        e = _engine()
        self.spark, self.pipeline, self.js = spark, e["pipeline"], e["json_source"]
        self.audit = e["audit"]
        res = self.pipeline.run_marvel_batch(
            spark, self.js.read_marvel_comics(spark, os.path.join(self.inputs, "base.jsonl")),
            target_path=self.base, audit_path=os.path.join(self.work, "audit_base"))
        if res.records_loaded != self.expected["base_rows"]:
            raise RuntimeError(f"baseline landed {res.records_loaded} rows, "
                               f"expected {self.expected['base_rows']}")

    def next_op(self) -> Op:
        b = self.i % self.n_pool
        self.i += 1
        shutil.rmtree(self.target, ignore_errors=True)
        shutil.copytree(self.base, self.target)
        exp = self.expected["batches"][b]
        path = os.path.join(self.inputs, f"batch{b}.jsonl")

        def run():
            raw = self.js.read_marvel_comics(self.spark, path)
            return self.pipeline.run_marvel_batch(
                self.spark, raw, target_path=self.target, audit_path=self.audit_path)

        def check(res) -> bool:
            self.audited += 1
            n_audit = self.audit.read_audit(self.spark, self.audit_path).count()
            return (res.status == "SUCCESS"
                    and res.records_read == exp["records"]
                    and res.records_loaded == exp["distinct_keys"]
                    and res.quality == {"null_onsale_date": exp["null_onsale_date"],
                                        "null_cover_url": exp["null_cover_url"],
                                        "orphan_credits": 0}
                    and n_audit == self.audited)

        return Op("batch", run, check)


SERVE_COLS = ("marvel_comic_id", "title", "issue_number", "onsale_date",
              "price_cents", "is_variant")


class CatalogServe:
    """Short read-only queries over a catalog landed by the pipeline,
    each answer checked against DuckDB over the same parquet files."""

    name = "catalog_serve"
    warmup_ops = 45

    def __init__(self, inputs: str, work: str):
        self.inputs, self.work = inputs, work
        self.ops = _load_json(os.path.join(inputs, "ops.json"))
        self.expected = _load_json(os.path.join(inputs, "expected.json"))
        self.issues_path = os.path.join(work, "issues")
        self.credits_path = os.path.join(work, "credits")
        self.duck = None
        self.i = 0

    def setup(self, spark) -> None:
        import duckdb

        e = _engine()
        self.spark, self.rel = spark, e["relational"]
        raw = e["json_source"].read_marvel_comics(
            spark, os.path.join(self.inputs, "catalog.jsonl"))
        res = e["pipeline"].run_marvel_batch(
            spark, raw, target_path=self.issues_path,
            audit_path=os.path.join(self.work, "audit"))
        if res.records_loaded != self.expected["catalog_rows"]:
            raise RuntimeError(f"catalog landed {res.records_loaded} rows")
        e["writers"].write_table(e["json_source"].explode_credits(raw), self.credits_path)
        self.issues = spark.read.parquet(self.issues_path)
        self.credits = spark.read.parquet(self.credits_path)
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE VIEW issues AS SELECT * FROM "
                          f"read_parquet('{self.issues_path}/*.parquet')")
        self.duck.execute(f"CREATE VIEW credits AS SELECT * FROM "
                          f"read_parquet('{self.credits_path}/*.parquet')")

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()

    def next_op(self) -> Op:
        spec = self.ops[self.i % len(self.ops)]
        self.i += 1
        return getattr(self, f"_{spec['op']}")(spec)

    def _search(self, spec) -> Op:
        q = spec["q"]

        def run():
            df = self.rel.search_substring(self.issues, "title", q,
                                           order_by=["title", "marvel_comic_id"])
            return [tuple(r) for r in df.select(*SERVE_COLS).collect()]

        def check(rows) -> bool:
            want = self.duck.execute(
                f"SELECT {', '.join(SERVE_COLS)} FROM issues "
                "WHERE contains(lower(title), lower(?)) "
                "ORDER BY title, marvel_comic_id LIMIT 50", [q]).fetchall()
            return rows == want

        return Op("search", run, check)

    def _lookup(self, spec) -> Op:
        key = spec["key"]

        def run():
            df = self.rel.keyed_scan(self.issues, "marvel_comic_id", key,
                                     order_by=["marvel_comic_id"])
            return [tuple(r) for r in df.select(*SERVE_COLS).collect()]

        def check(rows) -> bool:
            want = self.duck.execute(
                f"SELECT {', '.join(SERVE_COLS)} FROM issues "
                "WHERE marvel_comic_id = ?", [key]).fetchall()
            return rows == want

        return Op("lookup", run, check)

    def _topk(self, spec) -> Op:
        from pyspark.sql import functions as F

        lo, hi, k = spec["year_lo"], spec["year_hi"], spec["k"]

        def run():
            dim = (self.issues
                   .filter(F.year("onsale_date").between(lo, hi))
                   .select("marvel_comic_id"))
            df = self.rel.group_count_topk(self.credits, dim, "marvel_comic_id",
                                           "creator_name", k)
            return [tuple(r) for r in df.collect()]

        def check(rows) -> bool:
            want = self.duck.execute(
                "SELECT creator_name, count(*) AS issue_count FROM credits "
                "JOIN (SELECT marvel_comic_id FROM issues "
                "      WHERE year(onsale_date) BETWEEN ? AND ?) USING (marvel_comic_id) "
                "GROUP BY creator_name ORDER BY issue_count DESC, creator_name "
                "LIMIT ?", [lo, hi, k]).fetchall()
            return rows == want

        return Op("topk", run, check)


class StoreLifecycle:
    """Build, append and probe cycles over two persisted stores.

    ``dedup``: a MinHash band store (native SQL, shuffle-bound), probed
    with a document batch holding planted near-duplicates. ``ann``: an
    IVF-PQ index (an Arrow/Python-worker encode, then a driver-routed
    probe), probed with self-queries. A cycle is four ops in this order:
    ``dedup_write`` (build with overwrite, then append the delta),
    ``dedup_probe``, ``ann_write``, ``ann_probe``; every cycle rebuilds
    both stores, so each does the same work.
    """

    name = "store_lifecycle"
    warmup_ops = 4                  # one cycle
    traced_ops = 8                  # two cycles
    KINDS = ("dedup_write", "dedup_probe", "ann_write", "ann_probe")
    MINHASH = "pb_minhash_store"
    IVFPQ = "pb_ivfpq_store"

    def __init__(self, inputs: str, work: str):
        self.inputs, self.work = inputs, work
        self.expected = _load_json(os.path.join(inputs, "expected.json"))
        self.i = 0

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        e = _engine()
        self.spark, self.dedup, self.sim = spark, e["dedup"], e["similarity"]
        exp = self.expected
        tables = e["session"].load_tables(spark, self.inputs, ("documents", "embeddings"))
        self.docs, self.emb = tables["documents"], tables["embeddings"]
        self.doc_parts = (self.docs.filter(F.col("doc_id") < exp["doc_base"]),
                          self.docs.filter(F.col("doc_id") >= exp["doc_base"]))
        self.vec_parts = (self.emb.filter(F.col("vec_id") < exp["vec_base"]),
                          self.emb.filter(F.col("vec_id") >= exp["vec_base"]))
        self.probe = spark.read.parquet(os.path.join(self.inputs, "probe.parquet"))
        self.queries = (self.emb.filter(F.col("vec_id").isin(exp["queries"]))
                        .select(F.col("vec_id").alias("query_id"), "embedding"))
        self.centers = self.sim.train_ivf_centroids(self.vec_parts[0], n_centroids=8,
                                                    normalize=True)
        self.books = self.sim.train_residual_codebooks(self.vec_parts[0], self.centers,
                                                       m=8, k=16)

    def next_op(self) -> Op:
        kind = self.KINDS[self.i % len(self.KINDS)]
        self.i += 1
        return getattr(self, f"_{kind}")()

    def _dedup_write(self) -> Op:
        def run():
            for part, mode in zip(self.doc_parts, ("overwrite", "append")):
                self.dedup.persist_minhash_store(part, self.MINHASH, id_col="doc_id",
                                                 text_col="text", mode=mode)
            return None

        def check(_) -> bool:
            # one band row per document and band (8 bands by default)
            return self.spark.table(self.MINHASH).count() == 8 * self.expected["docs"]

        return Op("dedup_write", run, check)

    def _dedup_probe(self) -> Op:
        def run():
            df = self.dedup.dedup_against_store(self.probe, self.docs, self.MINHASH,
                                                id_col="doc_id", text_col="text")
            return [tuple(r) for r in df.collect()]

        def check(rows) -> bool:
            found = {str(doc): match for doc, match, _ in rows}
            return found == self.expected["planted"]

        return Op("dedup_probe", run, check)

    def _ann_write(self) -> Op:
        def run():
            for part, mode in zip(self.vec_parts, ("overwrite", "append")):
                self.sim.persist_ivf_pq_store(part, self.centers, self.books,
                                              self.IVFPQ, mode=mode)
            return None

        def check(_) -> bool:
            return self.spark.table(self.IVFPQ).count() == self.expected["vecs"]

        return Op("ann_write", run, check)

    def _ann_probe(self) -> Op:
        def run():
            df = self.sim.ivf_pq_topk_from_store(
                self.emb, self.queries, self.IVFPQ, centers=self.centers,
                codebooks=self.books, k=5, nprobe=3, rerank=300)
            return [tuple(r) for r in df.collect()]

        def check(rows) -> bool:
            best = {}   # rows are (query_id, vec_id, cosine_sim)
            for q, v, sim in sorted(rows, key=lambda r: (r[0], -r[2], r[1])):
                best.setdefault(q, v)
            return best == {q: q for q in self.expected["queries"]}

        return Op("ann_probe", run, check)


WORKLOADS = {w.name: w for w in (EtlBatch, CatalogServe)}
# Ops run after the timed loop of a traced run only, for their layers'
# counters: a steady store workload does not fit the run budget
# (``perfbench/README.md``, "Store lifecycle").
TRACED_EXTRA = {"etl_batch": StoreLifecycle}
