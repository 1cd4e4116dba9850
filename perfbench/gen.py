"""Seeded input generator for the end-to-end benchmark.

Every input a workload consumes is made here, from ``--seed`` alone, and
written to ``perfbench/_cache/<workload>-s<seed>-v<VERSION>/`` before the
set-up timer starts. The same seed gives byte-identical files (checked by
``perfbench/tests/test_gen.py``); ``expected.json`` beside them holds the
answers the correctness checks compare against.

Inputs per workload:

- ``etl_batch``: a baseline catalog of ``ETL_BASE`` Marvel payloads and
  ``ETL_POOL`` batches of ``ETL_BATCH`` payloads. Each batch updates
  ``ETL_BATCH/2`` baseline keys and inserts ``ETL_BATCH/2`` keys from the
  other half of the fixed key space, so a batch loaded onto the baseline
  always lands ``ETL_BASE + ETL_BATCH/2`` rows.
- ``catalog_serve``: one catalog of ``SERVE_CATALOG`` payloads plus a
  shuffled op stream: Zipf-drawn title search terms (some miss), lookup
  keys (some miss) and top-k creator queries over on-sale year ranges.
- ``store_lifecycle``: ``documents.parquet`` (``DOC_BASE`` store rows then
  ``DOC_DELTA`` appended rows, written from Marvel title and story words),
  a probe batch of ``DOC_PROBE`` documents of which ``DOC_PLANTED`` are
  near-duplicates of store documents, ``embeddings.parquet``
  (``VEC_BASE`` + ``VEC_DELTA`` clustered vectors) and the ids of
  ``VEC_QUERIES`` self-queries drawn from both parts.
"""

from __future__ import annotations

import json
import os
import random
import shutil

VERSION = 6

# --- etl_batch -------------------------------------------------------------
KEY0 = 10_000_000          # first marvel_comic_id of the fixed key space
ETL_BASE = 1000            # baseline catalog rows (key space half 1)
ETL_BATCH = 1000           # payloads per batch: half updates, half inserts
ETL_POOL = 4               # distinct batches; cycles go round the pool

# --- catalog_serve ---------------------------------------------------------
SERVE_CATALOG = 10000
SERVE_ROUNDS = 100         # op stream: each round is the 3 op types shuffled
SEARCH_MISS_EVERY = 7      # every 7th search term matches nothing ...
LOOKUP_MISS_EVERY = 5      # ... and every 5th lookup key is absent

# --- store_lifecycle -------------------------------------------------------
DOC_BASE = 600             # documents of the store's build
DOC_DELTA = 150            # documents appended to it
DOC_PROBE = 100            # documents of the probe batch ...
DOC_PLANTED = 30           # ... of which near-duplicates of store documents
DOC_WORDS = 40
PROBE_ID0 = 1_000_000      # probe documents' ids, apart from the store's
VEC_BASE = 2000            # vectors of the index's build
VEC_DELTA = 500            # vectors appended to it
VEC_DIM = 32
VEC_CLUSTERS = 16
VEC_QUERIES = 20           # self-queries, half from each part

# planted rates in the Marvel payloads
P_NULL_DESC = 0.12
P_VARIANT = 0.10
P_BAD_DATE = 0.05
P_NO_ONSALE = 0.03
P_MULTI_PRICE = 0.35
P_NO_THUMB = 0.08

SERIES_WORDS = ("Amazing", "Spectacular", "Uncanny", "Mighty", "Astonishing",
                "Incredible", "Savage", "Sensational", "Ultimate", "Cosmic",
                "Secret", "Infinite", "Iron", "Dark", "Web", "Star")
HERO_WORDS = ("Spider", "Hulk", "Thor", "Avengers", "Knights", "Guardians",
              "Defenders", "Runaways", "Champions", "Sentinels", "Wasp",
              "Falcon", "Phoenix", "Nova", "Widow", "Panther", "Vision")
ROLES = ("writer", "penciler", "inker", "colorist", "letterer", "editor")
N_CREATORS = 400


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Generate the workload's inputs for ``seed`` unless already cached.
    Writes into a temporary sibling and renames it, so an interrupted
    generation never leaves a half-filled cache entry behind."""
    out = os.path.join(root, "_cache", f"{workload}-s{seed}-v{VERSION}")
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    GENERATORS[workload](tmp, seed)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run cached the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- Marvel payloads -------------------------------------------------------

def _title(rng: random.Random, key: int) -> str:
    series = f"{rng.choice(SERIES_WORDS)} {rng.choice(HERO_WORDS)}"
    return f"{series} #{key % 500 + 1}"


def marvel_record(rng: random.Random, key: int) -> dict:
    """One Marvel comic payload in the API's nested shape, with the
    planted defects drawn at the module's stated rates."""
    variant = rng.random() < P_VARIANT
    title = _title(rng, key) + (" (Variant)" if variant else "")
    r = rng.random()
    if r < P_BAD_DATE:
        dates = [{"type": "onsaleDate", "date": "unparseable-date"}]
    elif r < P_BAD_DATE + P_NO_ONSALE:
        dates = []
    else:
        dates = [{"type": "onsaleDate",
                  "date": f"{rng.randint(1990, 2024)}-{rng.randint(1, 12):02d}-"
                          f"{rng.randint(1, 28):02d}T00:00:00-0500"}]
    dates.append({"type": "focDate", "date": "2009-12-31T00:00:00-0500"})
    prices = [{"type": "printPrice", "price": rng.choice((1.99, 2.99, 3.99, 4.99))}]
    if rng.random() < P_MULTI_PRICE:
        prices.append({"type": "digitalPurchasePrice",
                       "price": rng.choice((0.99, 1.99, 2.99))})
    creators = [{"name": f"Creator {rng.randrange(N_CREATORS)}",
                 "role": rng.choice(ROLES)}
                for _ in range(rng.randint(1, 4))]
    if rng.random() < P_NO_THUMB:
        thumb = {"path": "http://img.example/image_not_available", "extension": "jpg"}
    else:
        thumb = {"path": f"http://img.example/c{key}", "extension": "jpg"}
    return {
        "id": key,
        "title": title,
        "issueNumber": float(key % 500 + 1),
        "description": None if rng.random() < P_NULL_DESC else f"Issue {key} story.",
        "isbn": None if rng.random() < 0.5 else f"978-{key}",
        "upc": f"upc-{key}",
        "variantDescription": "Sketch Variant" if variant else "",
        "dates": dates,
        "prices": prices,
        "creators": {"items": creators},
        "thumbnail": thumb,
    }


def onsale_is_null(rec: dict) -> bool:
    on = [d for d in rec["dates"] if d["type"] == "onsaleDate"]
    return not on or on[0]["date"] == "unparseable-date"


def cover_is_null(rec: dict) -> bool:
    return "image_not_available" in rec["thumbnail"]["path"]


def _write_jsonl(path: str, records: list[dict]) -> None:
    with open(path, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec, separators=(",", ":")))
            fh.write("\n")


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True, separators=(",", ":"))


def gen_etl_batch(out: str, seed: int) -> None:
    rng = random.Random(seed * 7919 + 1)
    base = [marvel_record(rng, KEY0 + i) for i in range(ETL_BASE)]
    _write_jsonl(os.path.join(out, "base.jsonl"), base)
    base_by_key = {r["id"]: r for r in base}
    half = ETL_BATCH // 2
    batches = []
    for b in range(ETL_POOL):
        upd = rng.sample(range(KEY0, KEY0 + ETL_BASE), half)
        ins = rng.sample(range(KEY0 + ETL_BASE, KEY0 + 2 * ETL_BASE), half)
        recs = [marvel_record(rng, k) for k in upd + ins]
        rng.shuffle(recs)
        _write_jsonl(os.path.join(out, f"batch{b}.jsonl"), recs)
        # the merge keeps the baseline's onsale_date for an updated key
        # and takes coalesce(batch, baseline) for cover_url
        final_onsale = {k: onsale_is_null(r) for k, r in base_by_key.items()}
        final_cover = {k: cover_is_null(r) for k, r in base_by_key.items()}
        for r in recs:
            k = r["id"]
            if k in base_by_key:
                final_cover[k] = final_cover[k] and cover_is_null(r)
            else:
                final_onsale[k] = onsale_is_null(r)
                final_cover[k] = cover_is_null(r)
        batches.append({
            "records": len(recs),
            "distinct_keys": len(final_onsale),
            "null_onsale_date": sum(final_onsale.values()),
            "null_cover_url": sum(final_cover.values()),
        })
    _write_json(os.path.join(out, "expected.json"),
                {"base_rows": ETL_BASE, "batches": batches})


# --- catalog_serve ---------------------------------------------------------

def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def gen_catalog_serve(out: str, seed: int) -> None:
    rng = random.Random(seed * 7919 + 2)
    cat = [marvel_record(rng, KEY0 + i) for i in range(SERVE_CATALOG)]
    _write_jsonl(os.path.join(out, "catalog.jsonl"), cat)
    # search terms: word fragments ranked by a seeded shuffle, drawn
    # Zipf; misses are fragments no title contains
    terms = sorted({w.lower()[:k] for w in SERIES_WORDS + HERO_WORDS
                    for k in (3, 4, 5)} | {"#1", "#2", "varia"})
    rng.shuffle(terms)
    weights = zipf_weights(len(terms))
    misses = ["zzq", "qxv", "xylo", "jjw", "kqz"]
    ops = []
    years = list(range(1990, 2025))
    kinds = ["search", "lookup", "topk"]
    # misses sit at fixed positions of each type's stream, so every run's
    # window of ops holds the same share of them (a miss is cheaper)
    seen = {k: 0 for k in kinds}
    for kind in (k for _ in range(SERVE_ROUNDS) for k in rng.sample(kinds, 3)):
        seen[kind] += 1
        if kind == "search":
            q = (rng.choice(misses) if seen[kind] % SEARCH_MISS_EVERY == 0
                 else rng.choices(terms, weights)[0])
            ops.append({"op": "search", "q": q})
        elif kind == "lookup":
            key = (KEY0 + SERVE_CATALOG + rng.randrange(10**6)
                   if seen[kind] % LOOKUP_MISS_EVERY == 0
                   else KEY0 + rng.randrange(SERVE_CATALOG))
            ops.append({"op": "lookup", "key": key})
        else:
            lo = rng.choice(years)
            ops.append({"op": "topk", "year_lo": lo,
                        "year_hi": lo + rng.randint(0, 6), "k": rng.choice((5, 10, 20))})
    _write_json(os.path.join(out, "ops.json"), ops)
    _write_json(os.path.join(out, "expected.json"), {"catalog_rows": SERVE_CATALOG})


# --- store_lifecycle -------------------------------------------------------

def _story_words(rng: random.Random, n: int = 400) -> list[str]:
    """The Marvel title words plus ``n`` made-up story words, so that
    unrelated documents share almost no word 3-grams."""
    syll = ("ka", "ro", "mi", "ze", "tu", "va", "lo", "qi", "ne", "sa", "dor", "x")
    made = set()
    while len(made) < n:
        made.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return [w.lower() for w in SERIES_WORDS + HERO_WORDS + ROLES] + sorted(made)


def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path, compression="snappy")


def gen_store_lifecycle(out: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa

    rng = random.Random(seed * 7919 + 3)
    words = _story_words(rng)
    n_docs = DOC_BASE + DOC_DELTA
    texts = [" ".join(rng.choices(words, k=DOC_WORDS)) for _ in range(n_docs)]
    _write_parquet(os.path.join(out, "documents.parquet"),
                   {"doc_id": pa.array(range(n_docs), pa.int64()),
                    "text": pa.array(texts, pa.string())})
    # a near-duplicate swaps the last word of a store document: 37 of
    # its 38 word 3-grams are kept (Jaccard 0.95), which banded MinHash
    # (8 bands of 4) misses with probability ~2e-6
    sources = rng.sample(range(DOC_BASE), DOC_PLANTED // 2) + \
        rng.sample(range(DOC_BASE, n_docs), DOC_PLANTED - DOC_PLANTED // 2)
    probe = []
    for src in sources:
        head = texts[src].rsplit(" ", 1)[0]
        probe.append(f"{head} {rng.choice([w for w in words if not texts[src].endswith(w)])}")
    probe += [" ".join(rng.choices(words, k=DOC_WORDS))
              for _ in range(DOC_PROBE - DOC_PLANTED)]
    order = list(range(DOC_PROBE))
    rng.shuffle(order)
    probe_ids = [PROBE_ID0 + i for i in range(DOC_PROBE)]
    _write_parquet(os.path.join(out, "probe.parquet"),
                   {"doc_id": pa.array(probe_ids, pa.int64()),
                    "text": pa.array([probe[j] for j in order], pa.string())})
    planted = {str(probe_ids[i]): sources[j] for i, j in enumerate(order)
               if j < DOC_PLANTED}

    nrng = np.random.default_rng(seed * 7919 + 3)
    n_vecs = VEC_BASE + VEC_DELTA
    centers = nrng.normal(0.0, 1.0, (VEC_CLUSTERS, VEC_DIM))
    vecs = (centers[nrng.integers(0, VEC_CLUSTERS, n_vecs)]
            + nrng.normal(0.0, 1.0, (n_vecs, VEC_DIM))).astype(np.float32)
    _write_parquet(os.path.join(out, "embeddings.parquet"),
                   {"vec_id": pa.array(range(n_vecs), pa.int64()),
                    "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
    queries = sorted(rng.sample(range(VEC_BASE), VEC_QUERIES // 2)
                     + rng.sample(range(VEC_BASE, n_vecs), VEC_QUERIES - VEC_QUERIES // 2))
    _write_json(os.path.join(out, "expected.json"), {
        "doc_base": DOC_BASE, "docs": n_docs, "planted": planted,
        "vec_base": VEC_BASE, "vecs": n_vecs, "queries": queries})


GENERATORS = {
    "etl_batch": gen_etl_batch,
    "catalog_serve": gen_catalog_serve,
    "store_lifecycle": gen_store_lifecycle,
}
