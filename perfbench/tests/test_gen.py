"""The seeded input generator: determinism, seed sensitivity, delta
shape and the seeded shares. Pure Python, no Spark session.

    python3 -m pytest perfbench/tests/test_gen.py -q
"""

from __future__ import annotations

import datetime as dt
import pickle

import numpy as np
import pytest

from perfbench import gen
from perfbench.model import IngestModel


def _table_ops(seed: int, cycles: int = 6) -> list:
    inp = gen.table_inputs(seed)
    stream = gen.TableOpStream(seed, inp.orders.o_orderkey.to_numpy())
    return [stream.cycle() for _ in range(cycles)]


def _all_inputs(seed: int) -> bytes:
    cur = gen.curation_inputs(seed)
    return pickle.dumps(
        (
            gen.ingest_inputs(seed),
            gen.table_inputs(seed).orders,
            gen.table_inputs(seed).customers,
            [(op.kind, op.args) for cyc in _table_ops(seed) for op in cyc],
            cur.corpus,
            [gen.curation_batch(cur, b) for b in range(3)],
            [gen.curation_queries(cur, b, p) for b in range(3) for p in range(2)],
        )
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)


@pytest.mark.parametrize("a,b", [(1, 2), (7, 8)])
def test_different_seeds_give_different_inputs(a, b):
    assert not gen.ingest_inputs(a).equals(gen.ingest_inputs(b))
    assert not gen.table_inputs(a).orders.equals(gen.table_inputs(b).orders)
    assert not gen.curation_inputs(a).corpus.text.equals(gen.curation_inputs(b).corpus.text)
    assert gen.url_outcome(a, "AB", "CDEF", "HHZ", "2024-01-02T03:00:00") != gen.url_outcome(
        b, "AB", "CDEF", "HHZ", "2024-01-02T03:00:00"
    ) or gen.payload(a, "u", 64) != gen.payload(b, "u", 64)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_merge_deltas_are_nonempty_and_key_unique(seed):
    inp = gen.table_inputs(seed)
    stream = gen.TableOpStream(seed, inp.orders.o_orderkey.to_numpy())
    live = set(int(k) for k in inp.orders.o_orderkey)
    for _ in range(20):
        for op in stream.cycle():
            if op.kind == "merge":
                delta = op.args["delta"]
                assert len(delta) > 0
                assert delta.o_orderkey.is_unique
                dels = delta[delta.o_status == "D"].o_orderkey
                assert set(dels) <= live  # the delete clause only hits matched keys
                live -= set(dels)
                live |= set(delta[delta.o_status != "D"].o_orderkey)
            elif op.kind == "delete":
                assert op.args["keys"] and set(op.args["keys"]) <= live
                live -= set(op.args["keys"])
            elif op.kind == "append":
                assert not set(op.args["rows"].o_orderkey) & live
                live |= set(op.args["rows"].o_orderkey)


def test_time_travel_follows_a_write_in_every_cycle():
    for cyc in _table_ops(3, cycles=30):
        kinds = [op.kind for op in cyc]
        first_write = min(kinds.index(k) for k in ("merge", "delete", "append"))
        assert kinds.index("time_travel") > first_write


def test_ingest_shares_land_near_targets():
    seed = 5
    model = IngestModel(seed, gen.ingest_inputs(seed))
    ws, _ = gen.tick_window(1)
    counts = {"ok": 0, "http_404": 0, "empty": 0, "timeout": 0}
    for start in IngestModel.chunks(ws, ws + dt.timedelta(days=400)):
        for c in model.chans:
            counts[model.outcome((c.network, c.station, c.channel, start))[0]] += 1
    n = sum(counts.values())
    alive = n - counts["timeout"]
    assert abs(counts["timeout"] / n - gen.DEAD_STATION_HOUR_SHARE) < 0.01
    assert abs(counts["http_404"] / alive - gen.HTTP_404_SHARE) < 0.01
    assert abs(counts["empty"] / alive - gen.EMPTY_SHARE) < 0.01


def test_prelanded_share_near_target():
    seed = 9
    model = IngestModel(seed, gen.ingest_inputs(seed))
    ws, _ = gen.tick_window(1)
    keys = [
        (c.network, c.station, c.channel, start)
        for start in IngestModel.chunks(ws, ws + dt.timedelta(days=100))
        for c in model.chans
    ]
    share = sum(gen.prelanded(seed, *k) for k in keys) / len(keys)
    assert abs(share - gen.PRELANDED_SHARE) < 0.03
    day_one = set(keys[: 24 * len(model.chans)])
    assert set(model.prelanded()) <= day_one
    assert all(model.outcome(k)[0] == "ok" for k in model.prelanded())


def test_every_seed_starts_from_a_non_empty_table():
    for seed in range(300):
        model = IngestModel(seed, gen.ingest_inputs(seed))
        assert len(model.prelanded()) >= 10, seed


def test_payloads_are_seeded_and_sized_like_hourly_miniseed_chunks():
    lo, hi = gen.PAYLOAD_BYTES
    assert lo >= 100 * 1024  # BASELINE.md: low tens of MB over 72 fetches a day
    sizes = [
        gen.url_outcome(1, "XX", "ABCD", "HHZ", f"2024-01-{d:02d}T{h:02d}:00:00")
        for d in range(1, 29)
        for h in range(24)
    ]
    ok = [n for what, n in sizes if what == "ok"]
    assert ok and all(lo <= n < hi for n in ok)
    assert gen.payload(1, "u", 1000) == gen.payload(1, "u", 1000)
    assert gen.payload(1, "u", 1000) != gen.payload(2, "u", 1000)
    assert len(gen.payload(1, "u", lo)) == lo


def test_curation_shares_near_targets():
    inp = gen.curation_inputs(4)
    kinds = np.concatenate([gen.curation_batch(inp, b).kind.to_numpy() for b in range(30)])
    n = len(kinds)
    assert abs((kinds == "exact_dup").sum() / n - gen.EXACT_DUP_SHARE) < 0.02
    assert abs((kinds == "near_dup").sum() / n - gen.NEAR_DUP_SHARE) < 0.02
    assert abs((kinds == "low_quality").sum() / n - gen.LOW_QUALITY_SHARE) < 0.02


def test_exact_dups_copy_corpus_text_and_near_dups_differ_by_one_word():
    inp = gen.curation_inputs(6)
    corpus = set(inp.corpus.text)
    batch = gen.curation_batch(inp, 0)
    assert set(batch[batch.kind == "exact_dup"].text) <= corpus
    prefixes = {t.rsplit(" ", 1)[0] for t in corpus}
    near = batch[batch.kind == "near_dup"].text
    assert len(near) and all(t.rsplit(" ", 1)[0] in prefixes for t in near)


def test_transport_is_importable_by_path_and_keeps_stub_semantics():
    from aws_seismic_data_pipeline_spark.sources.http_fetch import FetchError

    from perfbench.transport import SeededTransport

    t = pickle.loads(pickle.dumps(SeededTransport(3)))
    seen = set()
    for h in range(24):
        for sta in ("AAAA", "BBBB", "CCCC", "DDDD"):
            start = f"2024-01-03T{h:02d}:00:00"
            url = gen.request_url("10.0.0.1:8080", "XX", sta, "00", "HHZ", start)
            what, size = gen.url_outcome(3, "XX", sta, "HHZ", start)
            if what in ("http_404", "timeout"):
                with pytest.raises(FetchError) as e:
                    t(url)
                assert e.value.error_type == IngestModel.ERROR_TYPES[what]
            elif what == "empty":
                assert t(url) == b""
            else:
                assert len(t(url)) == size
            seen.add(what)
    assert "ok" in seen
