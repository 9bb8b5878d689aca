"""Output checks: an order-insensitive digest computed in Spark, and the
expected digests derived from references that do not run the program.

- Registry queries (``graph_fixpoint``): the registry's own DuckDB oracle
  SQL, run over the generated tables.
- Dedup probes (``dedup_index``): an exhaustive Jaccard computation in
  numpy over the seeded arrival split, with the probe's LSH recall
  contract applied when the pair sets differ.
- Listings (``listings_etl``): the generator's ledger.

The digest of a DataFrame is ``(rows, sum of xxhash64 over every column
mod 2**64)``, so row order does not matter. The sum is taken as two sums of
32-bit halves, which cannot overflow with or without ANSI mode. Every
column enters the hash; doubles are rendered with seven significant
digits first, so last-bit float noise between engines cannot flip it.
The action is a full aggregate, which Catalyst cannot prune the way it
prunes a bare ``count()``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

Digest = tuple[int, int]


def _canonical(df: DataFrame) -> list:
    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.6e", c.cast("double"))
        cols.append(c)
    return cols


def digest(df: DataFrame) -> Digest:
    """Order-insensitive digest of every row and column of ``df``."""
    h = F.col("h")
    row = df.select(F.xxhash64(*_canonical(df)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)).alias("hi"),
    ).first()
    return int(row["n"]), (int(row["lo"]) + (int(row["hi"]) << 32)) % (1 << 64)


def _coerce(value, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(value)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(str(value))
    if isinstance(dtype, T.StringType):
        return str(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.DateType) and isinstance(value, str):
        return dt.date.fromisoformat(value)
    return value


def rows_digest(spark: SparkSession, rows: list, columns: list[str], schema: T.StructType) -> Digest:
    """Digest of reference ``rows`` (named by ``columns``) after coercing
    each value to the type the program's output gives that column."""
    by_name = {f.name: f for f in schema.fields}
    missing = sorted(set(by_name) ^ set(columns))
    if missing:
        raise ValueError(f"reference columns differ from the output: {missing}")
    fields = [by_name[c] for c in columns]
    coerced = [tuple(_coerce(v, f.dataType) for v, f in zip(r, fields)) for r in rows]
    ref_schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in fields])
    return digest(spark.createDataFrame(coerced, ref_schema))


# ---------------------------------------------------------------------
# Registry oracles through DuckDB
# ---------------------------------------------------------------------

def oracle_rows(tables_dir: str, table_names, sql: str) -> tuple[list[str], list[tuple]]:
    """Run a registry oracle over the generated tables in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, [tuple(r) for r in res.fetchall()]
    finally:
        con.close()


# ---------------------------------------------------------------------
# Exhaustive Jaccard for the dedup index probes
# ---------------------------------------------------------------------

def shingle_sets(texts: list[str]) -> list[set[str]]:
    """Word 2-shingles after the registry's normalisation (lower-case,
    whitespace collapsed); a one-word text is its own shingle."""
    out = []
    for text in texts:
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        toks = [t for t in toks if t]
        out.append({" ".join(toks[i:i + 2]) for i in range(max(len(toks) - 1, 1))})
    return out


def jaccard_pairs(
    sets: list[set[str]], new_idx: np.ndarray, old_idx: np.ndarray, ids: np.ndarray, threshold: float
) -> list[tuple[int, int, float]]:
    """Every (new_id, old_id, jaccard) with Jaccard >= ``threshold``,
    rounded to six places like the operator's output."""
    if len(new_idx) == 0 or len(old_idx) == 0:
        return []
    vocab = {s: i for i, s in enumerate(sorted(set().union(*sets)))}
    mat = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for row, s in enumerate(sets):
        mat[row, [vocab[x] for x in s]] = 1.0
    # float32 products of 0/1 rows are exact counts; divide in float64.
    sizes = mat.sum(axis=1).astype(np.float64)
    inter = (mat[new_idx] @ mat[old_idx].T).astype(np.float64)
    union = sizes[new_idx][:, None] + sizes[old_idx][None, :] - inter
    sim = np.round(inter / np.maximum(union, 1.0), 6)
    hit_new, hit_old = np.nonzero(sim >= threshold)
    return [
        (int(ids[new_idx[a]]), int(ids[old_idx[b]]), float(sim[a, b]))
        for a, b in zip(hit_new, hit_old)
    ]


def lsh_miss_allowance(sims: list[float], rows_per_band: int = 4, bands: int = 8, confidence: float = 0.999) -> int:
    """Largest number of true pairs the banded index may miss: a pair of
    Jaccard ``j`` escapes all ``bands`` bands with probability
    ``(1 - j**rows_per_band) ** bands`` (the operator's documented recall
    contract). Returns the ``confidence`` quantile of the number of misses,
    computed exactly over the independent per-pair miss events."""
    dist = [1.0]  # dist[k] = P(k misses so far)
    for j in sims:
        p = (1.0 - j ** rows_per_band) ** bands
        dist = [a * (1 - p) + b * p for a, b in zip(dist + [0.0], [0.0] + dist)]
    total = 0.0
    for k, mass in enumerate(dist):
        total += mass
        if total >= confidence:
            return k
    return len(sims)


#: Misses allowed beyond :func:`lsh_miss_allowance`: the operator's hash
#: family is only approximately min-wise independent, and on sets of ~20
#: shingles a pair of Jaccard 0.7-0.85 escapes more often than the ideal
#: curve says (observed: two misses where the 99.9% quantile allowed one).
MISS_SLACK = 2


def check_pairs(got: list[tuple], expected: list[tuple]) -> str | None:
    """Precision is exact (every pair and similarity must be a true one);
    recall is held to :func:`lsh_miss_allowance` plus ``MISS_SLACK``.
    Returns a problem or None."""
    want = {(int(a), int(b)): round(float(s), 6) for a, b, s in expected}
    seen = {}
    for a, b, s in got:
        key = (int(a), int(b))
        if key in seen:
            return f"duplicate pair {key}"
        seen[key] = round(float(s), 6)
        if key not in want or abs(want[key] - seen[key]) > 1e-6:
            return f"false pair {key} sim {s}"
    missed = [want[k] for k in want if k not in seen]
    allowed = lsh_miss_allowance(list(want.values())) + MISS_SLACK
    if len(missed) > allowed:
        return f"missed {len(missed)} of {len(want)} pairs (contract allows {allowed})"
    return None
