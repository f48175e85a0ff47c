"""The three workloads. Each builds its initial state (``build``), runs
the untimed warm-up ops on it (``warm_up``: one tick, round or batch
and one maintenance pass), then continues from there with one cycle of
its fixed op sequence per ``cycle`` call (a few ticks, rounds or
batches, then one maintenance pass; ``CYCLES`` of them make the timed
sequence), and reports space amplification at the end (``finish``).
Every call into the package goes through ``Harness.op`` (timing, model
check) and ``Harness.layer`` (spans)."""

from __future__ import annotations

import datetime as dt
import glob
import os
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_seismic_data_pipeline_spark.llm.curation import quality_gate
from aws_seismic_data_pipeline_spark.llm.dedup import (
    classify_snapshot,
    classify_snapshot_persisted,
    compact_corpus_index,
    promote_to_corpus,
    write_corpus_index,
)
from aws_seismic_data_pipeline_spark.llm.ivf import (
    N_PROBE,
    append_to_index,
    build_index_from,
    compact_index,
    probe_persisted_index,
)
from aws_seismic_data_pipeline_spark.plans.ingest import chunked_requests
from aws_seismic_data_pipeline_spark.sources.http_fetch import fetch_urls
from aws_seismic_data_pipeline_spark.sources.table import GovernedTable

from perfbench import gen
from perfbench.harness import MAINT, READ, WRITE
from perfbench.meter import FileLedger, file_bytes, parquet_files
from perfbench.model import (
    QUERY,
    IngestModel,
    TableModel,
    chunk_iso,
    probe_brute_force,
    probed_cells,
    same_rows,
)
from perfbench.transport import SeededTransport


def _arrow_bytes(pdf: pd.DataFrame) -> int:
    return pa.Table.from_pandas(pdf, preserve_index=False).nbytes


# ---- ingest_daily ------------------------------------------------------------

KEYS = ["network", "station", "location", "channel"]
LAND_SCHEMA = T.StructType(
    [
        T.StructField("network", T.StringType()),
        T.StructField("station", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("channel", T.StringType()),
        T.StructField("chunk_start", T.TimestampNTZType()),
        T.StructField("chunk_key", T.LongType()),
        T.StructField("day", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("content_len", T.LongType()),
        T.StructField("is_placeholder", T.BooleanType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)
_EPOCH = dt.datetime(1970, 1, 1)
#: OPTIMIZE bins a day's landed files up to this size (a day lands ~13 MB)
OPTIMIZE_TARGET_BYTES = 64 * 1024 * 1024


def _epoch(ts: dt.datetime) -> int:
    return int((ts - _EPOCH).total_seconds())


class IngestDaily:
    """The reference's daily cron job over a seeded channel catalog:
    plan → skip what landed → fetch → land date-partitioned parquet →
    register with the governed table → read the window's gap report;
    every few ticks OPTIMIZE, expire and vacuum, then a per-day coverage
    read over the whole table."""

    CYCLES = 1
    TICKS_PER_CYCLE = 6

    def __init__(self, h, seed: int, run_dir: str) -> None:
        self.h, self.seed, self.run_dir = h, seed, run_dir
        self.spark = h.spark
        self.transport = SeededTransport(seed)

    def build(self) -> None:
        spark = self.spark
        base = os.path.join(self.run_dir, "ingest")
        os.makedirs(base)
        self.data = os.path.join(base, "data")
        catalog = gen.ingest_inputs(self.seed)
        self.model = IngestModel(self.seed, catalog)
        self.catalog = spark.createDataFrame(catalog)
        rows = []
        hosts = dict(zip(zip(catalog.network, catalog.station), catalog.host))
        for key in self.model.prelanded():
            net, sta, cha, start = key
            url = gen.request_url(hosts[(net, sta)], net, sta, "00", cha, start)
            size = self.model.outcome(key)[1]
            rows.append((net, sta, "00", cha, start, url, gen.payload(self.seed, url, size), size))
            self.model.land(key)
        pdf = pd.DataFrame(
            rows,
            columns=KEYS + ["start", "url", "content", "content_len"],
        )
        pdf["is_placeholder"], pdf["error_type"], pdf["error_message"] = False, None, None
        self.t = GovernedTable.create(
            spark,
            spark.createDataFrame(self._landing(pdf), LAND_SCHEMA),
            self.data,
            os.path.join(base, "manifest"),
            "chunk_key",
            n_files=4,
            partition_by=("date",),
        )
        self.h.ledger = FileLedger([self.data, self.t.manifest_dir])
        self.tick = 0
        self.snaps = [0]

    @staticmethod
    def _landing(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = pd.to_datetime(pdf["start"], format="%Y-%m-%dT%H:%M:%S")
        out = pdf[KEYS].copy()
        out["chunk_start"] = ts
        out["chunk_key"] = ((ts - pd.Timestamp(_EPOCH)) // pd.Timedelta(seconds=1)).astype("int64")
        out["day"] = pdf["start"].str[:10]
        out["date"] = out["day"]
        for c in ("content", "content_len", "is_placeholder", "error_type", "error_message"):
            out[c] = pdf[c].values
        out["content_len"] = out["content_len"].astype("Int64")
        return out

    def warm_up(self) -> None:
        self._tick()
        self._maintain()
        self._daily_coverage()

    def cycle(self, index: int) -> None:
        for _ in range(self.TICKS_PER_CYCLE):
            self._tick()
        self._maintain()
        self._daily_coverage()

    def _tick(self) -> None:
        h, spark, t = self.h, self.spark, self.t
        self.tick += 1
        ws, we = gen.tick_window(self.tick)
        n_channels = len(self.model.chans)
        want_pending = self.model.pending(ws, we)
        url = F.concat(
            F.lit("http://"), "host", F.lit("/fdsnws/dataselect/1/query?net="), "network",
            F.lit("&sta="), "station", F.lit("&loc="), "location", F.lit("&cha="), "channel",
            F.lit("&start="), F.date_format("chunk_start", "yyyy-MM-dd'T'HH:mm:ss"),
        )

        def run():
            with h.layer("ingest.plan"):
                requests = chunked_requests(self.catalog, ws, we)
                landed = (
                    t.scan(_epoch(ws), _epoch(we) - 1)
                    .filter(~F.col("is_placeholder"))
                    .select(*KEYS, "chunk_start")
                )
                pending = (
                    requests.join(landed, [*KEYS, "chunk_start"], "left_anti")
                    .select(*KEYS, "host", "chunk_start", url.alias("url"))
                    .toPandas()
                )
            with h.layer("http_fetch.fetch"):
                fetched = fetch_urls(
                    spark.createDataFrame(pending[["url", "host"]]), transport=self.transport
                ).toPandas()
            land = pending.merge(fetched, on="url", how="inner")
            land = land[land.is_placeholder | (land.content_len > 0)].copy()
            land["start"] = land["chunk_start"].map(chunk_iso)
            land = self._landing(land)
            with h.layer("ingest.land"):
                before = set(glob.glob(os.path.join(self.data, "**", "*.parquet"), recursive=True))
                spark.createDataFrame(land, LAND_SCHEMA).write.mode("append").partitionBy(
                    "date"
                ).parquet(self.data)
                new = sorted(
                    set(glob.glob(os.path.join(self.data, "**", "*.parquet"), recursive=True))
                    - before
                )
            with h.layer("table.append"):
                snap = t.append(new)
            h.user_bytes += _arrow_bytes(land)
            return pending, fetched, snap

        def check(res):
            pending, fetched, snap = res
            got = {
                (r.network, r.station, r.channel, chunk_iso(r.chunk_start))
                for r in pending.itertuples()
            }
            if got != want_pending or len(pending) != len(got):
                return f"pending requests: engine {len(pending)}, model {len(want_pending)}"
            by_url = fetched.set_index("url")
            for r in pending.itertuples():
                key = (r.network, r.station, r.channel, chunk_iso(r.chunk_start))
                what, size = self.model.outcome(key)
                f = by_url.loc[r.url]
                if what in IngestModel.ERROR_TYPES:
                    if not f.is_placeholder or f.error_type != IngestModel.ERROR_TYPES[what]:
                        return f"{r.url}: expected dead letter {what}"
                elif f.is_placeholder or f.content_len != size:
                    return f"{r.url}: expected {size} bytes, got {f.content_len}"
                self.model.land(key)
            self.snaps.append(snap)
            h.note("ingest.requests", n_channels * len(IngestModel.chunks(ws, we)))
            h.note("ingest.pending_ratio", len(pending) / (n_channels * len(IngestModel.chunks(ws, we))))
            h.note("http_fetch.urls", len(fetched))
            h.note("http_fetch.dead_letters", int(fetched.is_placeholder.sum()))
            h.note("http_fetch.bytes", int(fetched.content_len.fillna(0).sum()))
            return None

        h.op(WRITE, "tick", run, check)
        self._gap_report(ws, we)

    def _gap_report(self, ws, we) -> None:
        """Per (channel, chunk) of the tick's window: landed, its
        dead-letter type, or missing."""
        h, t = self.h, self.t
        lo, hi = _epoch(ws), _epoch(we) - 1

        def gaps():
            with h.layer("ingest.coverage"):
                requests = chunked_requests(self.catalog, ws, we).select(*KEYS, "chunk_start")
                got = (
                    t.scan(lo, hi)
                    .groupBy(*KEYS, "chunk_start")
                    .agg(
                        F.max(F.when(~F.col("is_placeholder"), F.lit(1))).alias("ok"),
                        F.max("error_type").alias("err"),
                    )
                )
                return (
                    requests.join(got, [*KEYS, "chunk_start"], "left")
                    .select(
                        "network", "station", "channel",
                        F.date_format("chunk_start", "yyyy-MM-dd'T'HH:mm:ss"),
                        F.when(F.col("ok") == 1, F.lit("landed"))
                        .otherwise(F.coalesce("err", F.lit("missing"))),
                    )
                    .collect()
                )

        m = self.model
        h.op(READ, "gap_report", gaps, lambda rows: same_rows(rows, m.status(ws, we), "gap report"))

    def _daily_coverage(self) -> None:
        """Landed chunks, dead letters and bytes per day, whole table."""
        h, t, m = self.h, self.t, self.model

        def daily():
            with h.layer("ingest.coverage"):
                return t.sql(
                    "SELECT day, "
                    "CAST(SUM(CASE WHEN is_placeholder THEN 0 ELSE 1 END) AS BIGINT), "
                    "CAST(SUM(CASE WHEN is_placeholder THEN 1 ELSE 0 END) AS BIGINT), "
                    "CAST(SUM(COALESCE(content_len, 0)) AS BIGINT) "
                    "FROM governed GROUP BY day"
                ).collect()

        h.op(
            READ,
            "daily_coverage",
            daily,
            lambda rows: same_rows(
                rows, [(d, *v) for d, v in m.per_day.items()], "daily coverage"
            ),
        )

    def _maintain(self) -> None:
        h, t = self.h, self.t

        def optimize():
            with h.layer("table.optimize"):
                return t.optimize(target_bytes=OPTIMIZE_TARGET_BYTES)

        def expire():
            with h.layer("table.expire"):
                return t.expire(self.snaps[-1])

        def vacuum():
            with h.layer("table.vacuum"):
                return t.vacuum(older_than_seconds=0)

        for kind, fn in (("optimize", optimize), ("expire", expire), ("vacuum", vacuum)):
            _table_maint(h, kind, fn)

    def finish(self) -> float:
        return _table_finish(self.h, self.t)


def _table_maint(h, kind: str, fn, check=None) -> None:
    h.op(MAINT, kind, fn, check)
    h.note("table.bytes_rewritten", h.ops[-1]["created_bytes"])


def _table_finish(h, t: GovernedTable) -> float:
    """Per-layer end state, and space amplification: bytes on disk
    under the table's dirs over bytes of its visible files."""
    visible = t.visible_files()
    _, on_disk = h.ledger.walk()
    manifest = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(t.manifest_dir) for f in fs
    )
    h.final("table.visible_files", len(visible))
    h.final("table.manifest_bytes", manifest)
    return on_disk / file_bytes(visible)


# ---- table_mixed ---------------------------------------------------------------

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_status", T.StringType()),
        T.StructField("o_cents", T.LongType()),
        T.StructField("o_date", T.DateType()),
        T.StructField("o_priority", T.StringType()),
    ]
)
class TableMixed:
    """~70/30 read/write closed loop over one governed table; every few
    rounds of ops, delete compaction, OPTIMIZE, expire and vacuum."""

    CYCLES = 2
    ROUNDS_PER_CYCLE = 3

    def __init__(self, h, seed: int, run_dir: str) -> None:
        self.h, self.seed, self.run_dir = h, seed, run_dir
        self.spark = h.spark

    def build(self) -> None:
        spark = self.spark
        base = os.path.join(self.run_dir, "table")
        os.makedirs(base)
        inp = gen.table_inputs(self.seed)
        self.data = os.path.join(base, "data")
        self.t = GovernedTable.create(
            spark,
            spark.createDataFrame(inp.orders, ORDER_SCHEMA),
            self.data,
            os.path.join(base, "manifest"),
            "o_orderkey",
            n_files=gen.TABLE_FILES,
        )
        spark.createDataFrame(inp.customers).createOrReplaceTempView("customers")
        self.model = TableModel(inp.orders, inp.customers)
        self.stream = gen.TableOpStream(self.seed, inp.orders.o_orderkey.to_numpy())
        self.h.ledger = FileLedger([self.data, self.t.manifest_dir])

    def _rounds(self, n: int) -> None:
        self.snaps = []  # snapshots still readable as of
        for _ in range(n):
            for op in self.stream.cycle():
                getattr(self, f"_{op.kind}")(**op.args)
        self._maintain()

    def warm_up(self) -> None:
        self._rounds(1)

    def cycle(self, index: int) -> None:
        self._rounds(self.ROUNDS_PER_CYCLE)

    # -- reads
    def _scan_op(self, kind: str, fn, want) -> None:
        h, t = self.h, self.t

        def run():
            with h.layer("table.scan"):
                df = fn()
            return df, df.select(*gen.ORDER_COLUMNS).collect()

        def check(res):
            df, rows = res
            if h.traced:
                with h.instrument():
                    ratio = len(df.inputFiles()) / len(t.visible_files())
                h.note("table.files_read_ratio", ratio)
            return same_rows(rows, want(), kind)

        t0 = len(h.ops)
        h.op(READ, kind, run, check)
        h.note(f"table.scan_{kind}_s", h.ops[t0]["seconds"])

    def _point(self, lo, hi):
        self._scan_op("point", lambda: self.t.scan(lo, hi), lambda: self.model.scan(lo, hi))

    def _range(self, lo, hi):
        self._scan_op("range", lambda: self.t.scan(lo, hi), lambda: self.model.scan(lo, hi))

    def _multi(self, lo, hi, c_lo, c_hi):
        self._scan_op(
            "multi",
            lambda: self.t.scan_multi({"o_orderkey": (lo, hi), "o_cents": (c_lo, c_hi)}),
            lambda: self.model.scan(lo, hi, (c_lo, c_hi)),
        )

    def _time_travel(self, lo, hi, back):
        snap = self.snaps[-min(back, len(self.snaps))]
        key = F.col("o_orderkey")
        self._scan_op(
            "time_travel",
            lambda: self.t.scan_with_deletes(as_of=snap).filter(key.between(lo, hi)),
            lambda: self.model.scan_logical(lo, hi, snap),
        )

    def _query(self, lo, hi):
        h = self.h

        def run():
            with h.layer("table.scan"):
                df = self.t.sql(QUERY.format(src="governed", lo=":lo", hi=":hi"), args={"lo": lo, "hi": hi})
            return df.collect()

        t0 = len(h.ops)
        h.op(READ, "query", run, lambda rows: same_rows(rows, self.model.query(lo, hi), "query"))
        h.note("table.scan_query_s", h.ops[t0]["seconds"])

    # -- writes
    def _merge(self, delta):
        h, spark = self.h, self.spark
        cols = gen.ORDER_COLUMNS[1:]

        def run():
            with h.layer("table.merge"):
                return self.t.merge_with_delete(
                    spark.createDataFrame(delta, ORDER_SCHEMA), cols, "o_status = 'D'"
                )

        def check(res):
            snap, _n_int, n_rw, stats = res
            want = self.model.merge(delta, snap)
            self.snaps.append(snap)
            h.note("table.merge_files_rewritten", n_rw)
            got = {k: stats.get(k) for k in want}
            return None if got == want else f"merge clauses: engine {got}, model {want}"

        h.user_bytes += _arrow_bytes(delta)
        h.op(WRITE, "merge", run, check)

    def _delete(self, keys):
        h = self.h

        def run():
            with h.layer("table.delete"):
                return self.t.delete_keys(keys)

        def check(snap):
            self.model.delete(keys, snap)
            self.snaps.append(snap)

        h.user_bytes += 8 * len(keys)
        h.op(WRITE, "delete", run, check)

    def _append(self, rows):
        h, spark = self.h, self.spark

        def run():
            before = set(glob.glob(os.path.join(self.data, "*.parquet")))
            spark.createDataFrame(rows, ORDER_SCHEMA).coalesce(1).write.mode("append").parquet(
                self.data
            )
            new = sorted(set(glob.glob(os.path.join(self.data, "*.parquet"))) - before)
            with h.layer("table.append"):
                return self.t.append(new)

        def check(snap):
            self.model.append(rows, snap)
            self.snaps.append(snap)

        h.user_bytes += _arrow_bytes(rows)
        h.op(WRITE, "append", run, check)

    # -- maintenance
    def _maintain(self) -> None:
        h, t = self.h, self.t

        def compact():
            with h.layer("table.compact"):
                return t.compact_deletes()

        def compacted(res):
            self.model.compact(res[0])
            self.snaps.append(res[0])

        def optimize():
            with h.layer("table.optimize"):
                return t.optimize(target_bytes=256 * 1024)

        def expire():
            with h.layer("table.expire"):
                return t.expire(self.snaps[-1])

        def vacuum():
            with h.layer("table.vacuum"):
                return t.vacuum(older_than_seconds=0)

        _table_maint(h, "compact_deletes", compact, compacted)
        for kind, fn in (("optimize", optimize), ("expire", expire), ("vacuum", vacuum)):
            _table_maint(h, kind, fn)

    def finish(self) -> float:
        return _table_finish(self.h, self.t)


# ---- llm_curation ----------------------------------------------------------------


DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>"


def _one_split(spark, pdf: pd.DataFrame, schema: str):
    """A driver-side batch as one input split, as a small file would
    arrive, so a batch of a hundred rows is not fanned out over every
    core's Python worker."""
    return spark.createDataFrame(pdf, schema).coalesce(1)


class LlmCuration:
    """Continuous-crawl curation: classify each batch against the
    persisted dedup index, gate it, promote the new and clean docs into
    the dedup index and append them to the IVF index (two commits),
    probe the IVF index; every few batches compact both indexes."""

    CYCLES = 1
    BATCHES_PER_CYCLE = 3

    def __init__(self, h, seed: int, run_dir: str) -> None:
        self.h, self.seed, self.run_dir = h, seed, run_dir
        self.spark = h.spark

    def build(self) -> None:
        spark = self.spark
        base = os.path.join(self.run_dir, "curation")
        os.makedirs(base)
        self.inp = gen.curation_inputs(self.seed)
        corpus = self.inp.corpus
        self.dedup_dir = os.path.join(base, "dedup_index")
        self.ivf_dir = os.path.join(base, "ivf_index")
        write_corpus_index(_one_split(spark, corpus[["doc_id", "text"]], DOC_SCHEMA), self.dedup_dir)
        vectors = _one_split(
            spark,
            corpus[["doc_id", "embedding"]].rename(columns={"doc_id": "vec_id"}),
            VEC_SCHEMA,
        ).localCheckpoint(eager=True)
        self.centroids = build_index_from(vectors, self.ivf_dir, n_cells=gen.IVF_CELLS)
        self.docs = corpus[["doc_id", "text"]].copy()
        self.ids = corpus.doc_id.to_numpy()
        self.vecs = np.vstack(corpus.embedding.to_numpy()).astype(np.float64)
        self.batch = 0
        self.unchecked: list[tuple] = []  # (op id, rows, corpus, batch) per classify op
        self.h.ledger = FileLedger([self.dedup_dir, self.ivf_dir])

    def warm_up(self) -> None:
        self._batch()
        self._maintain()

    def cycle(self, index: int) -> None:
        for _ in range(self.BATCHES_PER_CYCLE):
            self._batch()
        self._maintain()

    def _batch(self) -> None:
        h, spark = self.h, self.spark
        b = self.batch
        self.batch += 1
        batch = gen.curation_batch(self.inp, b)
        docs = _one_split(spark, batch[["doc_id", "text"]], DOC_SCHEMA)

        def classify():
            with h.layer("dedup.classify"):
                return classify_snapshot_persisted(spark, docs, self.dedup_dir).collect()

        def classify_check(rows):
            h.note(
                "dedup.candidate_ratio",
                sum(r.status == "near_dup_candidate" for r in rows) / len(batch),
            )
            self.unchecked.append((len(h.ops), rows, self.docs, batch[["doc_id", "text"]]))

        status = h.op(READ, "classify", classify, classify_check) or []
        new_ids = {r.doc_id for r in status if r.status == "new"}

        def promote():
            with h.layer("curation.gate"):
                gate = quality_gate(docs).select("doc_id", "keep").collect()
            keep = {r.doc_id for r in gate if r.keep} & new_ids
            accepted = batch[batch.doc_id.isin(keep)]
            with h.layer("dedup.promote"):
                promote_to_corpus(_one_split(spark, accepted[["doc_id", "text"]], DOC_SCHEMA), self.dedup_dir)
            h.user_bytes += _arrow_bytes(accepted[["doc_id", "text", "embedding"]])
            return gate, accepted

        def promoted(res):
            gate, accepted = res
            h.note("curation.kept_ratio", sum(r.keep for r in gate) / len(gate))
            self.docs = pd.concat([self.docs, accepted[["doc_id", "text"]]], ignore_index=True)

        _, accepted = h.op(WRITE, "promote", promote, promoted) or (None, batch.iloc[:0])

        def ivf_append():
            vectors = accepted[["doc_id", "embedding"]].rename(columns={"doc_id": "vec_id"})
            with h.layer("ivf.append"):
                append_to_index(self.ivf_dir, _one_split(spark, vectors, VEC_SCHEMA))

        def appended(_):
            self.ids = np.concatenate([self.ids, accepted.doc_id.to_numpy()])
            if len(accepted):
                self.vecs = np.vstack(
                    [self.vecs, np.vstack(accepted.embedding.to_numpy()).astype(np.float64)]
                )

        h.op(WRITE, "ivf_append", ivf_append, appended)
        for p in range(gen.PROBES_PER_BATCH):
            self._probe(gen.curation_queries(self.inp, b, p))

    def _probe(self, queries) -> None:
        h, spark = self.h, self.spark

        def probe():
            with h.layer("ivf.probe"):
                return probe_persisted_index(spark, self.ivf_dir, queries, k=gen.TOP_K).collect()

        def check(rows):
            h.note(
                "ivf.cells_read_ratio",
                len(probed_cells(self.centroids, queries, N_PROBE)) / gen.IVF_CELLS,
            )
            want = probe_brute_force(self.ids, self.vecs, self.centroids, queries, gen.TOP_K, N_PROBE)
            got: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r.query_id, r["rank"])):
                got.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
            for qid, exp in want.items():
                have = got.get(qid, [])
                if [i for i, _ in have] != [i for i, _ in exp] or any(
                    abs(c - round(d, 4)) > 1e-4 for (_, c), (_, d) in zip(have, exp)
                ):
                    return f"probe {qid}: engine {have}, brute force {exp}"
            return None

        h.op(READ, "probe", probe, check)

    def _maintain(self) -> None:
        h, spark = self.h, self.spark

        def dedup():
            with h.layer("dedup.compact"):
                compact_corpus_index(spark, self.dedup_dir)

        def ivf():
            with h.layer("ivf.compact"):
                compact_index(spark, self.ivf_dir)

        h.op(MAINT, "compact_corpus_index", dedup)
        h.op(MAINT, "compact_index", ivf)

    def _check_classifications(self) -> None:
        """Every classify op against in-memory ``classify_snapshot`` over
        the corpus and the docs promoted before it. The checks wait for
        the end of the run and go to Spark as one action: one at a time
        they took longer than the ops they check."""
        spark = self.spark
        frames = [
            classify_snapshot(
                _one_split(spark, corpus, DOC_SCHEMA), _one_split(spark, batch, DOC_SCHEMA)
            ).withColumn("check", F.lit(i))
            for i, (_, _, corpus, batch) in enumerate(self.unchecked)
        ]
        want: dict[int, list] = {i: [] for i in range(len(frames))}
        for r in reduce(DataFrame.unionByName, frames).collect():
            want[r.check].append(tuple(r)[:-1])
        for i, (op_id, rows, _, _) in enumerate(self.unchecked):
            self.h.fail_if(op_id, same_rows(rows, want[i], "classification"))

    def finish(self) -> float:
        h = self.h
        self._check_classifications()
        h.final("dedup.index_files", len(parquet_files(self.dedup_dir)))
        h.final("ivf.index_files", len(parquet_files(self.ivf_dir)))
        _, on_disk = h.ledger.walk()
        live = parquet_files(self.dedup_dir) + parquet_files(self.ivf_dir)
        return on_disk / file_bytes(live)


WORKLOADS = {
    "ingest_daily": IngestDaily,
    "table_mixed": TableMixed,
    "llm_curation": LlmCuration,
}
