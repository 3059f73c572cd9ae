"""Seeded input generator for the pipeline benchmark.

Uses numpy and pyarrow only and never imports odibi_spark: the program
under test sees nothing but the parquet files written here. The same
seed gives byte-identical files; every random draw comes from a
``numpy.random.default_rng([seed, stream...])`` so adding a stream never
shifts another one.

Sizes are module constants so every run of a workload measures the same
amount of work; they are small enough that a run with its set-up fits
the benchmark's time budget on a 4-core machine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
SEGMENTS = np.array(["consumer", "corporate", "home_office", "small_business"])
REGIONS = np.array(["north", "south", "east", "west", "central"])
CATEGORIES = np.array(["audio", "books", "garden", "kitchen", "sports", "toys"])

# incremental_cdc
CDC_CUSTOMERS = 5_000
CDC_PRODUCTS = 125
CDC_SALES = 25_000
CDC_CHANGED_CUSTOMERS = 50   # 1% of the initial dimension per batch
CDC_NEW_CUSTOMERS = 10
CDC_NEW_SALES = 250
CDC_CORRECTED_SALES = 50
CDC_CHANGED_PRODUCTS = 3

# curation_dedup
CUR_BASE_DOCS = 250
CUR_LOW_QUALITY = 12
CUR_EXACT_DUPS = 20
CUR_NEAR_DUPS = 20
CUR_VOCAB = 3_000
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
ZERO_WIDTH = "\u200b"
MOJIBAKE_DASH = "\u00e2\u20ac\u201d"  # em dash read as cp1252


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet parts under directory ``path``
    (several parts so Spark scans them with several tasks). Uncompressed:
    how well planted duplicates happen to compress would otherwise move
    the input byte count from seed to seed."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"), compression="none")


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(EPOCH + seconds.astype("timedelta64[s]"), type=pa.timestamp("us"))


def _customers(r: np.random.Generator, ids: np.ndarray, tag: str) -> dict:
    n = len(ids)
    return {
        "customer_id": pa.array(ids, pa.int64()),
        "name": pa.array([f"cust-{i}-{tag}" for i in ids]),
        "segment": pa.array(SEGMENTS[r.integers(0, len(SEGMENTS), n)]),
        "region": pa.array(REGIONS[r.integers(0, len(REGIONS), n)]),
    }


def _products(r: np.random.Generator, ids: np.ndarray) -> dict:
    n = len(ids)
    return {
        "product_id": pa.array(ids, pa.int64()),
        "category": pa.array(CATEGORIES[r.integers(0, len(CATEGORIES), n)]),
        "list_price": pa.array(np.round(r.uniform(1, 500, n), 2)),
    }


def gen_cdc_initial(seed: int, root: str) -> dict:
    """Batch 0 of the change feed: the whole initial customer and
    product dimensions and the initial sales, each stamped before
    ``EPOCH + 1h``."""
    r = rng(seed, 2)
    cust = _customers(r, np.arange(1, CDC_CUSTOMERS + 1), "v0")
    cust["updated_at"] = _ts(r.integers(0, 3000, CDC_CUSTOMERS))
    prod = _products(r, np.arange(1, CDC_PRODUCTS + 1))
    prod["updated_at"] = _ts(r.integers(0, 3000, CDC_PRODUCTS))
    sales = _sales(r, np.arange(1, CDC_SALES + 1), CDC_CUSTOMERS, 0)
    _write(pa.table(cust), f"{root}/customers", 4)
    _write(pa.table(prod), f"{root}/products")
    _write(pa.table(sales), f"{root}/sales", 4)
    return {"rows": CDC_CUSTOMERS + CDC_PRODUCTS + CDC_SALES}


def _sales(r: np.random.Generator, ids: np.ndarray, n_customers: int, batch: int) -> dict:
    n = len(ids)
    return {
        "sale_id": pa.array(ids, pa.int64()),
        "customer_id": pa.array(r.integers(1, n_customers + 1, n), pa.int64()),
        "amount": pa.array(np.round(r.gamma(2.0, 40.0, n), 2)),
        "updated_at": _ts(batch * 3600 + r.integers(0, 3000, n)),
    }


def gen_cdc_batch(seed: int, root: str, batch: int) -> dict:
    """Change batch ``batch`` (1, 2, ...): changes ~1% of the current
    customers, adds new ones, adds new sales and corrects earlier ones,
    and reprices a few products. Every row is stamped inside hour
    ``batch``, so later batches always win and the high-water mark of
    batch k-1 selects exactly batch k. Written as one new file per
    table, named by batch number."""
    r = rng(seed, 3, batch)
    n_cust = CDC_CUSTOMERS + (batch - 1) * CDC_NEW_CUSTOMERS
    changed = r.choice(np.arange(1, n_cust + 1), CDC_CHANGED_CUSTOMERS, replace=False)
    new = np.arange(n_cust + 1, n_cust + CDC_NEW_CUSTOMERS + 1)
    ids = np.concatenate([changed, new])
    cust = _customers(r, ids, f"v{batch}")
    cust["updated_at"] = _ts(batch * 3600 + r.integers(0, 3000, len(ids)))
    n_sales = CDC_SALES + (batch - 1) * CDC_NEW_SALES
    corrected = r.choice(np.arange(1, n_sales + 1), CDC_CORRECTED_SALES, replace=False)
    sale_ids = np.concatenate([
        corrected, np.arange(n_sales + 1, n_sales + CDC_NEW_SALES + 1)])
    sales = _sales(r, sale_ids, n_cust + CDC_NEW_CUSTOMERS, batch)
    prod = _products(r, r.choice(np.arange(1, CDC_PRODUCTS + 1), CDC_CHANGED_PRODUCTS,
                                 replace=False))
    prod["updated_at"] = _ts(batch * 3600 + r.integers(0, 3000, CDC_CHANGED_PRODUCTS))
    name = f"batch-{batch:05d}.parquet"
    size = 0
    for table, cols in (("customers", cust), ("sales", sales), ("products", prod)):
        pq.write_table(pa.table(cols), f"{root}/{table}/{name}", compression="none")
        size += os.path.getsize(f"{root}/{table}/{name}")
    return {"rows": len(ids) + len(sale_ids) + CDC_CHANGED_PRODUCTS, "bytes": size}


def _doc(r: np.random.Generator, vocab: np.ndarray, n_words: int) -> list[str]:
    words = list(vocab[r.integers(0, len(vocab), n_words)])
    for pos in r.integers(0, n_words, max(4, n_words // 10)):
        words[pos] = GOPHER_STOPWORDS[r.integers(0, len(GOPHER_STOPWORDS))]
    return words


def _lines(words: list[str], cuts: list[int]) -> str:
    parts = np.split(np.array(words, dtype=object), cuts)
    return "\n".join(" ".join(p) for p in parts)


def gen_docs(seed: int, root: str) -> dict:
    """Documents with planted structure, labelled by kind:

    - ``base``: good-quality unique docs (10% carry a zero-width space
      and 10% a mojibake dash, which cleaning must repair);
    - ``low``: too short to pass the Gopher word-count rule;
    - ``exact``: a byte copy of a base doc, with a higher id;
    - ``near``: a base doc with two words replaced (3-shingle Jaccard
      about 0.9), with a higher id.

    Rows are shuffled; labels go to a separate file the program never
    reads."""
    # One vocabulary for every seed, like one language: the seed picks
    # the documents, so text size and compressibility barely move
    # between seeds.
    v = rng(0, 4)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({
        "".join(letters[v.integers(0, 26, v.integers(3, 9))]) for _ in range(CUR_VOCAB)
    }))
    r = rng(seed, 4)
    texts, kinds, origin = [], [], []
    base_words, base_cuts = [], []
    for _ in range(CUR_BASE_DOCS):
        words = _doc(r, vocab, int(r.integers(60, 140)))
        noise = r.random()
        if noise < 0.1:
            words[int(r.integers(0, len(words)))] += ZERO_WIDTH
        elif noise < 0.2:
            words.insert(int(r.integers(1, len(words))), MOJIBAKE_DASH)
        cuts = sorted(r.choice(np.arange(8, len(words) - 4), 3, replace=False))
        base_words.append(words)
        base_cuts.append(cuts)
        texts.append(_lines(words, cuts))
        kinds.append("base")
        origin.append(0)
    for _ in range(CUR_LOW_QUALITY):
        texts.append(" ".join(_doc(r, vocab, int(r.integers(8, 30)))))
        kinds.append("low")
        origin.append(0)
    for src in r.integers(0, CUR_BASE_DOCS, CUR_EXACT_DUPS):
        texts.append(texts[src])
        kinds.append("exact")
        origin.append(int(src) + 1)
    for src in r.choice(CUR_BASE_DOCS, CUR_NEAR_DUPS, replace=False):
        words = list(base_words[src])
        for pos in r.choice(np.arange(2, len(words) - 2), 2, replace=False):
            words[pos] = vocab[r.integers(0, len(vocab))] + "x"
        texts.append(_lines(words, base_cuts[src]))
        kinds.append("near")
        origin.append(int(src) + 1)
    n = len(texts)
    ids = np.arange(1, n + 1)
    order = r.permutation(n)
    docs = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order]),
    })
    labels = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "kind": pa.array(kinds),
        "origin_id": pa.array(origin, pa.int64()),
    })
    _write(docs, f"{root}/docs", 4)
    _write(labels, f"{root}/labels")
    return {"rows": n}
