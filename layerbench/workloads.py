"""The benchmark's workloads: inputs, set-up, and the operations of a pass.

Each workload owns its inputs (generated under the cache directory, not
timed), registers them with a fresh session (timed as set-up), and yields
the operations of one pass in a seeded order. An operation is a timed
``run`` that ends in an action, and an untimed ``check`` of its output.

Calls into the program go through module attributes
(``dedup.minhash_index_ingest``, not a name imported here), so a traced run
can wrap them.
"""

from __future__ import annotations

import csv
import io
import os
import shutil
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from layerbench import checks, inputs
from layerbench.spans import EXECUTE, QUERIES
from parcialbigdata_spark import queries as registry
from parcialbigdata_spark.operators import dedup
from parcialbigdata_spark.pipeline import parse, sink, storage
from parcialbigdata_spark.sources import tables
from parcialbigdata_spark.streaming import dedup_store
from parcialbigdata_spark.streaming import pipeline as stream_pipeline

#: Rows of the documents table. Sized so a pass fits a short run on a
#: 4-core host: the dedup work is dominated by per-job and per-round
#: overhead, not by data volume.
N_DOCUMENTS = 500

#: Landing corpus of the listings pipeline.
N_LISTING_FILES = 24
N_LISTING_CARDS = 1200

DEDUP_THRESHOLD, K_SHINGLE, BANDS = 0.2, 2, 8
#: Near-dup clusters of documents: the connected-components fixpoint of
#: operators/graph.py over a blocked 2-gram Jaccard pair graph.
CLUSTERS_QUERY = "dedup_clusters_documents"


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]


class Workload:
    """Base: subclasses set ``name`` and implement the hooks below."""

    name = ""
    #: Operations run once more after the warm-up pass (see
    #: ``Runner.rewarm``): the streaming drain, the slowest to warm up.
    REWARM: tuple[str, ...] = ()

    def __init__(self, cache_dir: str, work_dir: str, seed: int, tracer) -> None:
        self.cache_dir, self.work_dir, self.seed = cache_dir, work_dir, seed
        self.tracer = tracer
        self.spark: SparkSession | None = None
        self.expect_s = 0.0  # time spent deriving expected outputs (not set-up)
        self.tables_dir = os.path.join(cache_dir, f"tables-v{inputs.GENERATOR_VERSION}-d{N_DOCUMENTS}")

    # -- inputs (benchmark side, untimed) -----------------------------
    def prepare(self) -> None:
        if not os.path.isdir(self.tables_dir):
            tmp = self.tables_dir + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            inputs.write_documents(tmp, N_DOCUMENTS)
            os.replace(tmp, self.tables_dir)

    def register(self, spark: SparkSession) -> None:
        """Input registration against a new session (timed as set-up)."""
        self.spark = spark

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def before_pass(self) -> None:
        """Untimed reset before each pass."""

    def input_rows(self) -> int:
        raise NotImplementedError

    def stored_bytes_ratio(self) -> float:
        return 0.0

    def output_files(self) -> int:
        return 0

    def close(self) -> None:
        """Untimed clean-up at the end of the run."""

    # -- helpers ------------------------------------------------------
    def order(self, ops: list[Op], pass_no: int) -> list[Op]:
        """Seeded per-pass permutation of independent operations."""
        rng = np.random.default_rng([self.seed, pass_no, 3])
        return [ops[i] for i in rng.permutation(len(ops))]

    def expected(self, key: str, compute: Callable[[], checks.Digest]) -> checks.Digest:
        """Expected digest, cached per input set in ``expected.json`` under
        ``self.input_dir``; deriving it is timed into ``expect_s``."""
        path = os.path.join(self.input_dir, "expected.json")
        memo = self.__dict__.get("_expected")
        if memo is None:
            memo = self._expected = inputs.load_json(path) if os.path.exists(path) else {}
        if key not in memo:
            t0 = time.perf_counter()
            memo[key] = list(compute())
            inputs.save_json(path, memo)
            self.expect_s += time.perf_counter() - t0
        return tuple(memo[key])

    def span(self, name: str):
        return self.tracer.span(name)

    def registry_op(self, qname: str) -> Op:
        """A registry query: the builder call, then the digest action,
        checked against the registry's DuckDB oracle over the tables."""
        def run():
            with self.span(QUERIES):
                df = registry.QUERIES[qname](self.spark, self.tables_dir)
            with self.span(EXECUTE):
                return checks.digest(df), df.schema

        def check(out) -> str | None:
            got, schema = out
            cols, rows = self._oracle_rows(qname)
            want = self.expected(qname, lambda: checks.rows_digest(self.spark, rows, cols, schema))
            return _mismatch(got, want)

        return Op(qname, run, check)

    def _oracle_rows(self, qname: str) -> tuple[list[str], list]:
        """The registry oracle's rows, cached beside the seed-free tables."""
        path = os.path.join(self.tables_dir, f"oracle-{qname}.json")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            cols, rows = checks.oracle_rows(self.tables_dir, ["documents"], registry.ORACLES[qname])
            inputs.save_json(path, {"cols": cols, "rows": [[_jsonable(v) for v in r] for r in rows]})
            self.expect_s += time.perf_counter() - t0
        cached = inputs.load_json(path)
        return cached["cols"], cached["rows"]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _jsonable(v):
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _mismatch(got: checks.Digest, want: checks.Digest) -> str | None:
    return None if tuple(got) == tuple(want) else f"digest {got} != expected {want}"


# ---------------------------------------------------------------------
# dedup_index
# ---------------------------------------------------------------------

class DedupIndex(Workload):
    """MinHash index lifecycle over a seeded arrival split of documents.

    Documents arrive as history (60%) and a batch (40%). A pass streams
    both into the index through the streaming store (seed, then probe and
    append), replays the batch's append as an at-least-once retry would,
    and compacts the index."""

    name = "dedup_index"
    REWARM = ("streaming_minhash_index",)
    BANDS_T, SETS_T = "lb_idx_bands", "lb_idx_sets"

    def prepare(self) -> None:
        super().prepare()
        table = pq.read_table(os.path.join(self.tables_dir, "documents.parquet"))
        docs = table.to_pydict()
        ids = np.array(docs["doc_id"], dtype=np.int64)
        arrival = inputs.arrival_of(ids, self.seed)
        self.n_arrival = [int((arrival == a).sum()) for a in range(2)]
        self.text_bytes = sum(len(t.encode()) for t in docs["text"])
        # The stream source: one parquet file per streamed arrival; the
        # store reads them in name order.
        self.input_dir = os.path.join(self.tables_dir, f"split-s{self.seed}")
        self.stream_dir = os.path.join(self.input_dir, "stream")
        if not os.path.isdir(self.stream_dir):
            tmp = self.stream_dir + f".tmp{os.getpid()}"
            os.makedirs(tmp)
            for a in range(2):
                pq.write_table(table.filter(arrival == a), os.path.join(tmp, f"b{a}.parquet"))
            os.replace(tmp, self.stream_dir)
        self._docs_ids, self._docs_text, self._arrival = ids, docs["text"], arrival

    def _oracle_pairs(self) -> list:
        """Every (batch, history) pair at or above the probe threshold."""
        memo = self.__dict__.get("_pairs")
        if memo is None:
            t0 = time.perf_counter()
            sets = checks.shingle_sets(self._docs_text)
            a = self._arrival
            memo = self._pairs = checks.jaccard_pairs(
                sets, np.nonzero(a == 1)[0], np.nonzero(a == 0)[0], self._docs_ids, DEDUP_THRESHOLD
            )
            self.expect_s += time.perf_counter() - t0
        return memo

    def register(self, spark: SparkSession) -> None:
        super().register(spark)
        docs = tables.load_table(spark, self.tables_dir, "documents")
        self.batch = docs.filter(F.expr(inputs.arrival_bucket_sql("doc_id", self.seed)) >= 6)

    def _drop(self) -> None:
        for t in (self.BANDS_T, self.SETS_T):
            for suffix in ("", "__compact", "__old"):
                self.spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")

    def before_pass(self) -> None:
        self._drop()
        self._clean_sets = None

    def close(self) -> None:
        if self.spark is not None and self.spark.sparkContext._jsc is not None:
            self._drop()

    def _index_check(self, ids: int, band_rows: int, set_rows: int | None = None) -> str | None:
        """Index tables hold ``ids`` documents, ``band_rows`` band rows and,
        when given, ``set_rows`` shingle-set rows."""
        bands = self.spark.table(self.BANDS_T).count()
        sets = self.spark.table(self.SETS_T).agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("ids")
        ).first()
        got = (bands, sets["n"], sets["ids"])
        if got[2] != ids or got[0] != band_rows or (set_rows is not None and got[1] != set_rows):
            return f"index (bands, sets, ids) = {got}, expected ids {ids}, bands {band_rows}, sets {set_rows}"
        return None

    def _pairs_check(self, out, key: str, expected: list) -> str | None:
        got_digest, df = out
        schema = T.StructType([
            T.StructField("new_id", T.LongType()), T.StructField("old_id", T.LongType()),
            T.StructField("jaccard_sim", T.DoubleType()),
        ])
        want = self.expected(
            key, lambda: checks.rows_digest(self.spark, expected, ["new_id", "old_id", "jaccard_sim"], schema)
        )
        if tuple(got_digest) == tuple(want):
            return None
        got = [tuple(r) for r in df.select("new_id", "old_id", "jaccard_sim").collect()]
        return checks.check_pairs(got, expected)

    def ops(self, pass_no: int) -> list[Op]:
        h, b1 = self.n_arrival
        p1 = self._oracle_pairs()
        probe_kw = dict(threshold=DEDUP_THRESHOLD, k_shingle=K_SHINGLE)

        def stream():
            out = dedup_store.run_streaming_minhash_index(
                self.spark, self.stream_dir, self.BANDS_T, self.SETS_T,
                pairs_dir=os.path.join(self.work_dir, f"pairs-{pass_no}"), **probe_kw,
            )
            with self.span(EXECUTE):
                return checks.digest(out), out

        def stream_check(out) -> str | None:
            # Compaction must restore exactly this clean index.
            self._clean_sets = self.spark.table(self.SETS_T).count()
            return self._index_check(h + b1, BANDS * (h + b1)) or self._pairs_check(out, "p1", p1)

        def replay():
            dedup.minhash_index_ingest(
                self.batch, "doc_id", "text", self.BANDS_T, self.SETS_T, k_shingle=K_SHINGLE, append=True
            )

        chain = [
            Op("streaming_minhash_index", stream, stream_check),
            Op("minhash_index_replay_append", replay, lambda _: self._index_check(h + b1, BANDS * (h + 2 * b1))),
            Op(
                "minhash_index_compact",
                lambda: dedup.minhash_index_compact(self.spark, self.BANDS_T, self.SETS_T, "doc_id"),
                lambda _: self._index_check(h + b1, BANDS * (h + b1), self._clean_sets),
            ),
        ]
        # The clustering query reads documents only, so the seed places it
        # anywhere in the index lifecycle.
        at = int(np.random.default_rng([self.seed, pass_no, 5]).integers(0, len(chain) + 1))
        return chain[:at] + [self.registry_op(CLUSTERS_QUERY)] + chain[at:]

    def input_rows(self) -> int:
        return sum(self.n_arrival)  # the streamed documents

    def stored_bytes_ratio(self) -> float:
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        stored = sum(_dir_bytes(os.path.join(warehouse, t)) for t in (self.BANDS_T, self.SETS_T))
        return stored / self.text_bytes


# ---------------------------------------------------------------------
# listings_etl
# ---------------------------------------------------------------------

CARD_COLUMNS = ["source_file", "valor", "barrio", "num_habitaciones", "num_banos", "mts2"]


class ListingsEtl(Workload):
    """The paper's pipeline: landing HTML -> listing cards -> CSV."""

    name = "listings_etl"
    REWARM = ("stream_landing_to_csv",)

    def prepare(self) -> None:
        base = self.input_dir = os.path.join(
            self.cache_dir, f"listings-v{inputs.GENERATOR_VERSION}-f{N_LISTING_FILES}-c{N_LISTING_CARDS}-s{self.seed}"
        )
        self.landing = os.path.join(base, "landing")
        ledger_path = os.path.join(base, "ledger.json")
        if not os.path.exists(ledger_path):
            shutil.rmtree(base, ignore_errors=True)
            ledger = inputs.write_listings(self.landing, self.seed, N_LISTING_FILES, N_LISTING_CARDS)
            inputs.save_json(ledger_path, ledger)
        self.ledger = inputs.load_json(ledger_path)
        self.compat_rows = [tuple(r) for rows in self.ledger["files"].values() for r in rows]
        self.out_root = os.path.join(self.work_dir, "listings_out")

    def before_pass(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)

    def _digest_op(self, name: str, build, want) -> Op:
        def run():
            df = build()
            with self.span(EXECUTE):
                return checks.digest(df)

        return Op(name, run, lambda got: _mismatch(got, want()))

    def _raw_expected(self) -> checks.Digest:
        rows = []
        for f in sorted(os.listdir(self.landing)):
            with open(os.path.join(self.landing, f), encoding="utf-8") as fh:
                rows.append((f, fh.read()))
        schema = T.StructType([T.StructField("source_file", T.StringType()), T.StructField("value", T.StringType())])
        return checks.rows_digest(self.spark, rows, ["source_file", "value"], schema)

    def _strings(self, cols: list[str]) -> T.StructType:
        return T.StructType([T.StructField(c, T.StringType()) for c in cols])

    def _cards_expected(self) -> checks.Digest:
        na = inputs.NA
        rows = [
            (f"{r[0]}.html", *[None if v == na else v for v in (r[2], r[1], r[3], r[4], r[5])])
            for r in self.compat_rows
        ]
        return checks.rows_digest(self.spark, rows, CARD_COLUMNS, self._strings(CARD_COLUMNS))

    def _compat_expected(self) -> checks.Digest:
        cols = parse.CSV_COLUMNS
        return checks.rows_digest(self.spark, self.compat_rows, cols, self._strings(cols))

    def _sink_check(self, metrics: dict) -> str | None:
        want_na = sum(1 for r in self.compat_rows if r[2] == inputs.NA)
        got = (metrics.get("rows_written"), metrics.get("na_valor_rows"))
        if got != (len(self.compat_rows), want_na):
            return f"sink metrics {got} != {(len(self.compat_rows), want_na)}"
        parts = {d for d in os.listdir(os.path.join(self.out_root, "csv")) if d.startswith("FechaDescarga=")}
        want_parts = {f"FechaDescarga={f[:-5]}" for f in self.ledger["files"]}
        return None if parts == want_parts else f"sink partitions {len(parts)} != {len(want_parts)}"

    def _stream_check(self, _) -> str | None:
        dest = os.path.join(self.out_root, "stream", "parcials")
        errors = os.path.join(self.out_root, "stream", "errors")
        want_csv = {f[:-5] + ".csv" for f in self.ledger["files"]}
        got_csv = set(os.listdir(dest)) if os.path.isdir(dest) else set()
        if got_csv != want_csv:
            return f"stream wrote {len(got_csv)} CSV files, expected {len(want_csv)}"
        want_err = {f[:-5] + ".error.json" for f in self.ledger["empty"]}
        got_err = set(os.listdir(errors)) if os.path.isdir(errors) else set()
        if got_err != want_err:
            return f"stream wrote {len(got_err)} error records, expected {len(want_err)}"
        for name, rows in self.ledger["files"].items():
            with open(os.path.join(dest, name[:-5] + ".csv"), newline="", encoding="utf-8") as fh:
                got = list(csv.reader(io.StringIO(fh.read())))
            if got[0] != parse.CSV_COLUMNS or Counter(map(tuple, got[1:])) != Counter(map(tuple, rows)):
                return f"stream CSV {name} differs from the ledger"
        return None

    def ops(self, pass_no: int) -> list[Op]:
        def raw():
            return parse.read_landing(self.spark, self.landing)

        def sink_run():
            compat = parse.compat_view(parse.exploded_cards(raw()))
            return sink.write_csv_distributed_observed(compat, os.path.join(self.out_root, "csv"))

        def stream_run():
            base = os.path.join(self.out_root, "stream")
            query = stream_pipeline.stream_landing_to_csv(
                self.spark, self.landing, os.path.join(base, "checkpoint"), store=storage.LocalObjectStore(base)
            )
            stream_pipeline.run_available_now(query, timeout_sec=120.0)
            exc = query.exception()
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")

        ops = [
            self._digest_op("read_landing", raw, lambda: self.expected("raw", self._raw_expected)),
            self._digest_op(
                "exploded_cards", lambda: parse.exploded_cards(raw()),
                lambda: self.expected("cards", self._cards_expected),
            ),
            self._digest_op(
                "compat_view", lambda: parse.compat_view(parse.exploded_cards(raw())),
                lambda: self.expected("compat", self._compat_expected),
            ),
            Op("write_csv_distributed_observed", sink_run, self._sink_check),
            Op("stream_landing_to_csv", stream_run, self._stream_check),
        ]
        return self.order(ops, pass_no)

    def input_rows(self) -> int:
        return len(self.compat_rows)

    def _outputs(self) -> list[str]:
        """Directories the sinks write: the distributed CSV and the
        streaming sink's CSV and error buckets (not its checkpoint)."""
        stream = os.path.join(self.out_root, "stream")
        return [os.path.join(self.out_root, "csv"), os.path.join(stream, "parcials"), os.path.join(stream, "errors")]

    def stored_bytes_ratio(self) -> float:
        return sum(_dir_bytes(d) for d in self._outputs()) / self.ledger["input_bytes"]

    def output_files(self) -> int:
        return sum(len(os.listdir(d)) for d in self._outputs()[1:] if os.path.isdir(d))


WORKLOADS = {w.name: w for w in (DedupIndex, ListingsEtl)}
