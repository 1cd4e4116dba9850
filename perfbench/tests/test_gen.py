"""The seeded input generator: same seed, same bytes; stated shapes hold."""

import hashlib
import json
import os

import pytest

from perfbench import gen


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    gen.GENERATORS[workload](str(a), 5)
    gen.GENERATORS[workload](str(b), 5)
    gen.GENERATORS[workload](str(c), 6)
    assert digest(str(a)) == digest(str(b))
    assert digest(str(a)) != digest(str(c))


def test_ensure_inputs_caches_per_seed(tmp_path):
    first = gen.ensure_inputs(str(tmp_path), "catalog_serve", 3)
    stamp = os.path.getmtime(os.path.join(first, "ops.json"))
    assert gen.ensure_inputs(str(tmp_path), "catalog_serve", 3) == first
    assert os.path.getmtime(os.path.join(first, "ops.json")) == stamp
    assert not [d for d in os.listdir(tmp_path / "_cache") if ".tmp" in d]


def _jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh]


def test_etl_batches_half_update_half_insert_over_fixed_key_space(tmp_path):
    gen.gen_etl_batch(str(tmp_path), 9)
    base = {r["id"] for r in _jsonl(tmp_path / "base.jsonl")}
    expected = json.loads((tmp_path / "expected.json").read_text())
    assert len(base) == gen.ETL_BASE == expected["base_rows"]
    for b, exp in enumerate(expected["batches"]):
        recs = _jsonl(tmp_path / f"batch{b}.jsonl")
        keys = [r["id"] for r in recs]
        assert len(set(keys)) == len(keys) == gen.ETL_BATCH == exp["records"]
        assert sum(k in base for k in keys) == gen.ETL_BATCH // 2
        assert all(gen.KEY0 <= k < gen.KEY0 + 2 * gen.ETL_BASE for k in keys)
        assert exp["distinct_keys"] == gen.ETL_BASE + gen.ETL_BATCH // 2


def test_planted_defects_appear_near_their_stated_rates(tmp_path):
    gen.gen_etl_batch(str(tmp_path), 4)
    recs = _jsonl(tmp_path / "base.jsonl")
    n = len(recs)

    def rate(pred):
        return sum(map(pred, recs)) / n

    assert rate(lambda r: r["description"] is None) == pytest.approx(gen.P_NULL_DESC, abs=0.02)
    assert rate(lambda r: "Variant" in r["title"]) == pytest.approx(gen.P_VARIANT, abs=0.02)
    assert rate(gen.onsale_is_null) == pytest.approx(gen.P_BAD_DATE + gen.P_NO_ONSALE, abs=0.02)
    assert rate(lambda r: len(r["prices"]) > 1) == pytest.approx(gen.P_MULTI_PRICE, abs=0.03)
    assert rate(gen.cover_is_null) == pytest.approx(gen.P_NO_THUMB, abs=0.02)
    assert rate(lambda r: len(r["creators"]["items"]) > 1) > 0.5


def test_serve_stream_interleaves_types_and_plants_misses(tmp_path):
    gen.gen_catalog_serve(str(tmp_path), 2)
    ops = json.loads((tmp_path / "ops.json").read_text())
    for i in range(0, len(ops), 3):
        assert sorted(o["op"] for o in ops[i:i + 3]) == ["lookup", "search", "topk"]
    keys = [o["key"] for o in ops if o["op"] == "lookup"]
    in_catalog = [gen.KEY0 <= k < gen.KEY0 + gen.SERVE_CATALOG for k in keys]
    assert 0 < in_catalog.count(False) < len(keys) / 2
    titles = [r["title"].lower() for r in _jsonl(tmp_path / "catalog.jsonl")]
    terms = [o["q"] for o in ops if o["op"] == "search"]
    hits = [any(t in title for title in titles) for t in set(terms)]
    assert any(hits) and not all(hits)


def test_store_documents_plant_near_duplicates_of_both_parts(tmp_path):
    import pyarrow.parquet as pq

    gen.gen_store_lifecycle(str(tmp_path), 8)
    exp = json.loads((tmp_path / "expected.json").read_text())
    docs = {r["doc_id"]: r["text"] for r in pq.read_table(tmp_path / "documents.parquet").to_pylist()}
    probe = {r["doc_id"]: r["text"] for r in pq.read_table(tmp_path / "probe.parquet").to_pylist()}
    assert len(docs) == exp["docs"] == gen.DOC_BASE + gen.DOC_DELTA
    assert len(probe) == gen.DOC_PROBE and len(exp["planted"]) == gen.DOC_PLANTED

    def grams(text):
        w = text.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    for doc, src in exp["planted"].items():
        a, b = grams(probe[int(doc)]), grams(docs[src])
        assert len(a & b) / len(a | b) > 0.9
    # half the sources were appended after the build
    assert sum(src >= gen.DOC_BASE for src in exp["planted"].values()) == gen.DOC_PLANTED // 2
    fresh = [t for d, t in probe.items() if str(d) not in exp["planted"]]
    corpus = set().union(*map(grams, docs.values()))
    assert all(len(grams(t) & corpus) <= 2 for t in fresh)
    vecs = pq.read_table(tmp_path / "embeddings.parquet")
    assert vecs.num_rows == exp["vecs"] == gen.VEC_BASE + gen.VEC_DELTA
    assert len(exp["queries"]) == gen.VEC_QUERIES
    assert sum(q >= gen.VEC_BASE for q in exp["queries"]) == gen.VEC_QUERIES // 2
