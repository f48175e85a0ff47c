"""Seeded inputs for the three workloads.

Pure numpy/stdlib: nothing here touches Spark or the package, so the
same seed gives byte-identical inputs on any machine, and the program
under test only ever sees what these functions return. Sizes are module
constants, restated in BENCHMARK.json's workload reasons.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(salt.encode(), "little")])


def unit_hash(seed: int, key: str) -> float:
    """Uniform [0, 1) draw fixed by (seed, key)."""
    h = hashlib.blake2b(f"{seed}|{key}".encode(), digest_size=8).digest()
    return struct.unpack("<Q", h)[0] / 2.0**64


# ---- ingest_daily --------------------------------------------------------

# The reference's shipped configuration (BASELINE.md, config.json): one
# network, one station, three 100 Hz HH* channels, fetched in hourly
# chunks, 72 fetches a day landing low tens of MB. An hour of one HH*
# channel as Steim-compressed miniSEED runs to a few hundred KB.
N_NETWORKS = 1
STATIONS_PER_NETWORK = 1
CHANNELS = ("HHZ", "HHN", "HHE")
DEAD_STATION_HOUR_SHARE = 0.10
HTTP_404_SHARE = 0.04
EMPTY_SHARE = 0.03
PRELANDED_SHARE = 0.40
PAYLOAD_BYTES = (128 * 1024, 256 * 1024)
BASE_DAY = dt.datetime(2024, 1, 1)


def ingest_inputs(seed: int) -> pd.DataFrame:
    """The channel catalog: network, station, location, channel, host."""
    rng = _rng(seed, "ingest")
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    rows = []
    nets = set()
    while len(nets) < N_NETWORKS:
        nets.add("".join(rng.choice(letters, 2)))
    for ni, net in enumerate(sorted(nets)):
        stations = set()
        while len(stations) < STATIONS_PER_NETWORK:
            stations.add("".join(rng.choice(letters, 4)))
        for si, sta in enumerate(sorted(stations)):
            host = f"10.{ni + 1}.{si + 1}.{int(rng.integers(2, 250))}:8080"
            for cha in CHANNELS:
                rows.append((net, sta, "00", cha, host))
    return pd.DataFrame(rows, columns=["network", "station", "location", "channel", "host"])


def request_url(host: str, net: str, sta: str, loc: str, cha: str, start: str) -> str:
    """The reference's per-chunk dataselect request (one hour)."""
    return (
        f"http://{host}/fdsnws/dataselect/1/query?net={net}&sta={sta}"
        f"&loc={loc}&cha={cha}&start={start}"
    )


def url_outcome(seed: int, net: str, sta: str, cha: str, start: str) -> tuple[str, int]:
    """What the seeded sensor network answers for one chunk request:
    ("timeout", 0) when the station is down for the hour (every channel
    of it times out), ("http_404", 0), ("empty", 0) or
    ("ok", payload_size). The transport and the model both call this,
    so they agree on the seeded shares by construction. Outages are
    drawn per station-hour rather than per station-day: with the
    shipped single station a dead day would empty a whole tick, and
    how many of the run's few days a seed kills would then swing the
    work a run does by a sixth."""
    if unit_hash(seed, f"dead|{net}.{sta}|{start}") < DEAD_STATION_HOUR_SHARE:
        return "timeout", 0
    u = unit_hash(seed, f"req|{net}.{sta}.{cha}|{start}")
    if u < HTTP_404_SHARE:
        return "http_404", 0
    if u < HTTP_404_SHARE + EMPTY_SHARE:
        return "empty", 0
    lo, hi = PAYLOAD_BYTES
    return "ok", lo + int(unit_hash(seed, f"size|{net}.{sta}.{cha}|{start}") * (hi - lo))


def payload(seed: int, url: str, size: int) -> bytes:
    """Incompressible seeded bytes standing in for a miniSEED record."""
    key = hashlib.blake2b(f"{seed}|{url}".encode(), digest_size=8).digest()
    return np.random.default_rng(struct.unpack("<Q", key)[0]).bytes(size)


def prelanded(seed: int, net: str, sta: str, cha: str, start: str) -> bool:
    """Chunks of the day before the first tick that an earlier run
    already landed."""
    return unit_hash(seed, f"pre|{net}.{sta}.{cha}|{start}") < PRELANDED_SHARE


def tick_window(tick: int) -> tuple[dt.datetime, dt.datetime]:
    """Tick ``tick`` re-plans the previous day and plans the new one:
    [BASE_DAY + tick - 1 days, BASE_DAY + tick + 1 days)."""
    return (
        BASE_DAY + dt.timedelta(days=tick - 1),
        BASE_DAY + dt.timedelta(days=tick + 1),
    )


# ---- table_mixed ---------------------------------------------------------

TABLE_ROWS = 40_000
TABLE_FILES = 16
KEY_SPACE = 4 * TABLE_ROWS
CUSTOMERS = 2_000
NATIONS = 25
MERGE_UPDATES, MERGE_INSERTS, MERGE_DELETES = 60, 30, 10
DELETE_KEYS = 20
APPEND_ROWS = 200
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DATE0 = dt.date(1992, 1, 1)
DATE_SPAN_DAYS = 2400
#: per cycle, shuffled: 7 reads (~70%) and 3 writes (~30%)
CYCLE_OPS = (
    ("point", 2),
    ("range", 2),
    ("multi", 1),
    ("time_travel", 1),
    ("query", 1),
    ("merge", 1),
    ("delete", 1),
    ("append", 1),
)
ORDER_COLUMNS = ["o_orderkey", "o_custkey", "o_status", "o_cents", "o_date", "o_priority"]


def _orders(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, CUSTOMERS + 1, n).astype(np.int64),
            "o_status": rng.choice(STATUSES, n),
            "o_cents": rng.integers(100_00, 5_000_000, n).astype(np.int64),
            "o_date": [
                DATE0 + dt.timedelta(days=int(d))
                for d in rng.integers(0, DATE_SPAN_DAYS, n)
            ],
            "o_priority": rng.choice(PRIORITIES, n),
        }
    )


@dataclass
class TableInputs:
    orders: pd.DataFrame
    customers: pd.DataFrame


def table_inputs(seed: int) -> TableInputs:
    """TPC-H-shaped orders (keys sampled from a 4x wider key space) and
    their customer→nation dimension."""
    rng = _rng(seed, "table")
    keys = np.sort(rng.choice(KEY_SPACE, TABLE_ROWS, replace=False)) + 1
    customers = pd.DataFrame(
        {
            "c_custkey": np.arange(1, CUSTOMERS + 1, dtype=np.int64),
            "c_nation": rng.integers(0, NATIONS, CUSTOMERS).astype(np.int64),
        }
    )
    return TableInputs(_orders(rng, keys), customers)


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)


class TableOpStream:
    """Seeded closed-loop op source over a key book-keeping that never
    consults the engine: live keys ordered by last touch (reads favour
    recent keys), keys removed by delete never return, inserts take
    fresh keys above the initial key space. Every MERGE delta is
    non-empty with one row per key."""

    def __init__(self, seed: int, initial_keys: np.ndarray) -> None:
        self.rng = _rng(seed, "table-ops")
        self.recent: list[int] = [int(k) for k in self.rng.permutation(initial_keys)]
        self.live: set[int] = set(self.recent)
        self.next_key = KEY_SPACE + 1

    def _touch(self, keys) -> None:
        self.recent.extend(int(k) for k in keys)

    def _recent_key(self) -> int:
        """A live key, skewed toward the most recently written."""
        while True:
            back = int(self.rng.geometric(0.01))
            if back <= len(self.recent):
                k = self.recent[-back]
                if k in self.live:
                    return k

    def _take_live(self, n: int, exclude: set[int]) -> list[int]:
        out: list[int] = []
        while len(out) < n:
            k = self._recent_key()
            if k not in exclude and k not in out:
                out.append(k)
        return out

    def _fresh(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + 3 * n, 3))
        self.next_key += 3 * n
        return keys

    def cycle(self) -> list[Op]:
        """One cycle's ops in seeded order; the time-travel read comes
        after the cycle's first write, because VACUUM at the end of the
        previous cycle forfeited every older snapshot."""
        kinds = [k for k, n in CYCLE_OPS for _ in range(n)]
        order = [kinds[i] for i in self.rng.permutation(len(kinds))]
        first_write = min(order.index(k) for k in ("merge", "delete", "append"))
        if order.index("time_travel") < first_write:
            order.remove("time_travel")
            order.insert(first_write, "time_travel")
        return [self._op(k) for k in order]

    def _op(self, kind: str) -> Op:
        rng = self.rng
        if kind == "point":
            k = self._recent_key()
            return Op(kind, {"lo": k, "hi": k})
        if kind in ("range", "time_travel", "query"):
            c = self._recent_key()
            w = int(rng.integers(KEY_SPACE // 200, KEY_SPACE // 50))
            args = {"lo": c - w, "hi": c + w}
            if kind == "time_travel":
                args["back"] = int(rng.integers(1, 4))
            return Op(kind, args)
        if kind == "multi":
            c = self._recent_key()
            w = int(rng.integers(KEY_SPACE // 100, KEY_SPACE // 20))
            lo_c = int(rng.integers(100_00, 2_500_000))
            return Op(kind, {"lo": c - w, "hi": c + w, "c_lo": lo_c, "c_hi": lo_c + 2_000_000})
        if kind == "merge":
            upd = self._take_live(MERGE_UPDATES + MERGE_DELETES, set())
            dels, upd = upd[:MERGE_DELETES], upd[MERGE_DELETES:]
            ins = self._fresh(MERGE_INSERTS)
            delta = _orders(rng, np.array(upd + ins + dels, dtype=np.int64))
            delta.loc[len(upd) + len(ins) :, "o_status"] = "D"
            self.live.difference_update(dels)
            self.live.update(ins)
            self._touch(upd + ins)
            return Op(kind, {"delta": delta})
        if kind == "delete":
            keys = self._take_live(DELETE_KEYS, set())
            self.live.difference_update(keys)
            return Op(kind, {"keys": sorted(keys)})
        if kind == "append":
            ins = self._fresh(APPEND_ROWS)
            self.live.update(ins)
            self._touch(ins)
            return Op(kind, {"rows": _orders(rng, np.array(ins, dtype=np.int64))})
        raise ValueError(kind)


# ---- llm_curation --------------------------------------------------------

VOCAB = 4_000
CORPUS_DOCS = 1_000
BATCH_DOCS = 120
EMBED_DIM = 32
EMBED_CLUSTERS = 12
IVF_CELLS = 10
QUERIES_PER_PROBE = 8
PROBES_PER_BATCH = 1
TOP_K = 5
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.08
LOW_QUALITY_SHARE = 0.15
QUERY_ID0 = 10_000_000


@dataclass
class CurationInputs:
    corpus: pd.DataFrame  # doc_id, text, embedding
    seed: int
    vocab: np.ndarray
    centers: np.ndarray


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> str:
    p = 1.0 / (np.arange(len(vocab)) + 10.0)
    return " ".join(rng.choice(vocab, n, p=p / p.sum()))


def _vector(rng: np.random.Generator, centers: np.ndarray, base=None) -> np.ndarray:
    if base is None:
        base = centers[rng.integers(len(centers))]
        noise = 0.6
    else:
        noise = 0.05
    v = base + noise * rng.standard_normal(EMBED_DIM) / np.sqrt(EMBED_DIM)
    return (v / np.linalg.norm(v)).astype(np.float32)


def curation_inputs(seed: int) -> CurationInputs:
    rng = _rng(seed, "curation")
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        sorted({"".join(rng.choice(alphabet, rng.integers(3, 9))) for _ in range(VOCAB * 2)})[:VOCAB]
    )
    vocab = rng.permutation(vocab)
    centers = rng.standard_normal((EMBED_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    texts = [_words(rng, vocab, int(rng.integers(40, 100))) for _ in range(CORPUS_DOCS)]
    corpus = pd.DataFrame(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "text": texts,
            "embedding": [_vector(rng, centers) for _ in range(CORPUS_DOCS)],
        }
    )
    return CurationInputs(corpus, seed, vocab, centers)


def curation_batch(inp: CurationInputs, batch: int) -> pd.DataFrame:
    """Crawl batch ``batch`` (0-based): doc_id, text, embedding, kind —
    kind is the generator's intent ("new", "exact_dup", "near_dup",
    "low_quality"); dups copy an initial-corpus doc."""
    rng = _rng(inp.seed, f"curation-batch-{batch}")
    corpus = inp.corpus
    ids, texts, vecs, kinds = [], [], [], []
    first = CORPUS_DOCS + batch * BATCH_DOCS
    for i in range(BATCH_DOCS):
        u = rng.random()
        src = int(rng.integers(len(corpus)))
        if u < EXACT_DUP_SHARE:
            kind, text = "exact_dup", corpus.text.iloc[src]
            vec = _vector(rng, inp.centers, corpus.embedding.iloc[src])
        elif u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = corpus.text.iloc[src].split(" ")
            words[-1] = str(rng.choice(inp.vocab))
            kind, text = "near_dup", " ".join(words)
            vec = _vector(rng, inp.centers, corpus.embedding.iloc[src])
        elif u < EXACT_DUP_SHARE + NEAR_DUP_SHARE + LOW_QUALITY_SHARE:
            kind = "low_quality"
            if rng.random() < 0.5:
                text = _words(rng, inp.vocab, int(rng.integers(5, 18)))
            else:
                w = str(rng.choice(inp.vocab))
                text = " ".join([w] * 30 + _words(rng, inp.vocab, 30).split(" "))
            vec = _vector(rng, inp.centers)
        else:
            kind, text = "new", _words(rng, inp.vocab, int(rng.integers(40, 100)))
            vec = _vector(rng, inp.centers)
        ids.append(first + i)
        texts.append(text)
        vecs.append(vec)
        kinds.append(kind)
    return pd.DataFrame(
        {"doc_id": np.array(ids, dtype=np.int64), "text": texts, "embedding": vecs, "kind": kinds}
    )


def curation_queries(inp: CurationInputs, batch: int, probe: int) -> list[tuple[int, np.ndarray]]:
    rng = _rng(inp.seed, f"curation-q-{batch}-{probe}")
    base = QUERY_ID0 + (batch * PROBES_PER_BATCH + probe) * QUERIES_PER_PROBE
    return [(base + i, _vector(rng, inp.centers)) for i in range(QUERIES_PER_PROBE)]
