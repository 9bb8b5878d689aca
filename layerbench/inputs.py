"""Seeded input generators for the layer benchmark.

Everything the program reads is made here, inside the checkout, so a run
needs no fixture directory from outside:

- ``write_documents``: the ``documents`` table (the registry's schema) that
  the dedup operators and the clustering query read. It is the same for
  every workload seed (the table seed is fixed), so it is generated once
  per checkout.
- ``arrival_of`` / ``arrival_bucket_sql``: the seeded arrival split of
  ``documents`` into history and a later batch, by a seeded hash of
  ``doc_id`` that numpy, Spark and DuckDB evaluate identically.
- ``write_listings``: the landing directory of dated HTML files for the
  listings pipeline, plus a ledger of the compat rows each file must yield
  and of which files hold zero cards.

Generators only use numpy/pyarrow and the standard library; they never
start Spark.
"""

from __future__ import annotations

import datetime as dt
import html
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the documents table. The workload seed varies operation order,
#: arrivals and the HTML corpus, never the table the queries scan.
TABLE_SEED = 42

#: Bump when a generator or the digest changes, so cached inputs and
#: expected digests are rebuilt.
GENERATOR_VERSION = 1

VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def make_documents(rng: np.random.Generator, n_docs: int) -> dict:
    """``documents`` rows: random bags over a 30-word vocabulary, with 5%
    planted near-duplicates (an earlier document with the token ``dup``
    inserted, Jaccard about 0.9) and 0.2% exact copies."""
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        elif i > 10 and u < 0.052:
            words = texts[int(rng.integers(0, i))].split()
        else:
            words = list(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_documents(out_dir: str, n_docs: int) -> int:
    """Write the ``documents`` table as ``out_dir/documents.parquet``
    (the layout the program's table loader reads); returns its rows."""
    os.makedirs(out_dir, exist_ok=True)
    return _write(out_dir, "documents", make_documents(np.random.default_rng(TABLE_SEED), n_docs))


# ---------------------------------------------------------------------
# Arrival split of documents
# ---------------------------------------------------------------------

_SPLIT_PRIME = 1_000_003


def split_params(seed: int) -> tuple[int, int]:
    """Multiplier and offset of the seeded arrival hash."""
    rng = np.random.default_rng([seed, 7])
    return int(rng.integers(1, _SPLIT_PRIME)), int(rng.integers(0, _SPLIT_PRIME))


def arrival_bucket_sql(col: str, seed: int) -> str:
    """SQL for the arrival bucket 0-9 of ``col``; identical in Spark SQL
    and DuckDB (BIGINT arithmetic that cannot overflow for ids < 2^40).
    Buckets 0-5 are the history, 6-9 the batch."""
    a, b = split_params(seed)
    return f"((({col} * {a} + {b}) % {_SPLIT_PRIME}) % 10)"


def arrival_of(doc_ids: np.ndarray, seed: int) -> np.ndarray:
    """Arrival index (0 history, 1 batch) per doc id."""
    a, b = split_params(seed)
    bucket = ((doc_ids.astype(np.int64) * a + b) % _SPLIT_PRIME) % 10
    return np.where(bucket <= 5, 0, 1)


# ---------------------------------------------------------------------
# Listings landing directory
# ---------------------------------------------------------------------

BARRIOS = [
    "Chapinero, Bogotá", "Usaquén, Bogotá", "Suba, Bogotá", "Teusaquillo, Bogotá",
    "El Poblado, Medellín", "Laureles, Medellín", "Granada, Cali", "Kennedy, Bogotá",
    "Cedritos & Lisboa, Bogotá", "La Candelaria, Bogotá",
]
PAGES_PER_FILE = 10
NA = "N/A"


def _card(rng: np.random.Generator) -> tuple[str, tuple]:
    """One listing card: its HTML and its compat row (minus the date).

    Each field is missing with probability 6%, either as a missing element
    or, for the ``data-test`` fields, as an element without ``content``."""
    def missing() -> bool:
        return rng.random() < 0.06

    price = None if missing() else f"$ {int(rng.integers(80, 3000)) * 1_000_000:,}".replace(",", ".")
    barrio = None if missing() else BARRIOS[int(rng.integers(0, len(BARRIOS)))]
    attrs = []
    for value in (int(rng.integers(1, 6)), int(rng.integers(1, 5)), int(rng.integers(30, 400))):
        attrs.append(None if missing() else str(value))

    parts = ['<article class="listing-card"><div class="listing-card__content">',
             '<img src="photo.jpg" alt="foto">']
    if price is not None:
        parts.append(f'<div class="price"><span class="price__actual">\n  {price}  </span></div>')
    if barrio is not None:
        parts.append(f'<div class="listing-card__location__geo">{html.escape(barrio)}</div>')
    for test, value in zip(("bedrooms", "bathrooms", "floor-area"), attrs):
        if value is not None:
            parts.append(f'<p data-test="{test}" content="{value}">{value}</p>')
        elif rng.random() < 0.5:
            parts.append(f'<p data-test="{test}">sin dato</p>')
    parts.append("</div></article>")
    row = tuple(NA if v is None else v for v in (barrio, price, *attrs))
    return "".join(parts), row


def write_listings(landing_dir: str, seed: int, n_files: int, n_cards: int) -> dict:
    """Write ``n_files`` dated landing files holding ``n_cards`` cards in
    total, spread over ``PAGES_PER_FILE`` concatenated result pages per
    file; about one file in twelve holds zero cards. Returns the ledger:
    ``{"files": {name: [compat row, ...]}, "empty": [name, ...],
    "input_bytes": n}`` where a compat row is the 6 CSV columns."""
    os.makedirs(landing_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    start = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))
    names = [f"{start + dt.timedelta(days=i)}.html" for i in range(n_files)]
    empty = set(rng.choice(n_files, size=max(1, n_files // 12), replace=False).tolist())
    full = [i for i in range(n_files) if i not in empty]
    # Fixed total card count, so every seed parses the same volume.
    per_page = np.bincount(
        rng.integers(0, len(full) * PAGES_PER_FILE, n_cards),
        minlength=len(full) * PAGES_PER_FILE,
    ).reshape(len(full), PAGES_PER_FILE)
    ledger: dict = {"files": {}, "empty": sorted(names[i] for i in empty), "input_bytes": 0}
    page_counts = dict(zip(full, per_page))
    for i, name in enumerate(names):
        fecha = name[: -len(".html")]
        pages, rows = [], []
        for k in (page_counts[i] if i in page_counts else [0] * PAGES_PER_FILE):
            cards = []
            for _ in range(int(k)):
                markup, row = _card(rng)
                cards.append(markup)
                rows.append((fecha, *row))
            pages.append(
                "<html><head><title>Resultados</title></head><body><main>"
                + "".join(cards)
                + "</main><footer>fin</footer></body></html>"
            )
        body = "\n".join(pages).encode("utf-8")
        with open(os.path.join(landing_dir, name), "wb") as f:
            f.write(body)
        ledger["input_bytes"] += len(body)
        if rows:
            ledger["files"][name] = rows
    return ledger


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)
