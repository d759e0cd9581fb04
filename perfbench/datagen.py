"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten fixture tables the engine's inventory
reads (TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), with the schemas and value domains of the repository's
fixtures (FIXTURES.md).  ``ChangeLog`` writes a CouchDB-style changes
log (``_id, _rev, _deleted, seq, doc_json``) over the ``orders`` rows and
appends seeded batches of edits, inserts and deletes to it.

Everything is a pure function of the seed: the same seed gives the same
files, byte for byte in content.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

# share of change-log operations per kind, and operations per batch
CHANGE_MIX = {"edit": 0.6, "insert": 0.25, "delete": 0.15}

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _day_ts(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime,
            n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int) -> None:
    """Write the ten fixture tables for scale factor ``sf`` into
    ``out_dir`` (one ``<table>.parquet`` file each)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_emb = n_docs

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(f"{out_dir}/orders.parquet", orders_columns(rng, n_ord, n_cust))
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day_ts(rng, dt.datetime(1995, 1, 2),
                              dt.datetime(2001, 11, 4), n_line),
    })
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span = 30 * 86_400 * 1_000_000
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    write_documents(out_dir, seed, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb.astype("float32")),
                              pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """Write ``documents.parquet``: ``n`` token documents drawn from
    their own stream of ``seed``, so a corpus is the same whichever
    other tables are written beside it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    texts = _doc_texts(rng, n)
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def orders_columns(rng: np.random.Generator, n: int, n_cust: int,
                   first_key: int = 0) -> dict:
    return {
        "o_orderkey": np.arange(first_key, first_key + n, dtype="int64"),
        "o_custkey": rng.integers(0, max(n_cust, 1), n),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _day_ts(rng, dt.datetime(1995, 1, 1),
                               dt.datetime(2001, 8, 1), n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random token documents; about 2% are near-duplicates of an
    earlier document (one or two ``dup`` tokens appended) and 0.5% are
    exact copies, so dedup and clustering have work to do."""
    out: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            src = out[int(rng.integers(0, i))]
            out.append(src + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and r < 0.025:
            out.append(out[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            out.append(" ".join(rng.choice(WORDS, k)))
    return out


# ---------------------------------------------------------------------------
# CouchDB-style changes log
# ---------------------------------------------------------------------------

def _rev(gen: int, doc_id: str, seq: int) -> str:
    return f"{gen}-" + hashlib.md5(f"{doc_id}:{seq}".encode()).hexdigest()


def _body(doc_id: str, rev: str, o: dict) -> str:
    # whole-dollar prices keep every sum exact, so answers hash the same
    # whatever order an engine adds them in
    return json.dumps({
        "_id": doc_id, "_rev": rev, "custkey": int(o["o_custkey"]),
        "status": o["o_orderstatus"], "priority": o["o_orderpriority"],
        "price": int(round(o["o_totalprice"])),
        "date": o["o_orderdate"],
    }, separators=(",", ":"))


class ChangeLog:
    """A raw changes table ``<sf_dir>/<name>.parquet`` (a directory of
    parquet files) over seeded ``orders``-shaped documents.

    ``append_batch`` adds one file of ``batch`` operations; the engine
    sees only the files.  ``latest`` is the live document set the
    answers are checked against: the highest-``seq`` row per ``_id``,
    deleted documents dropped."""

    SCHEMA = pa.schema([("_id", pa.string()), ("_rev", pa.string()),
                        ("_deleted", pa.bool_()), ("seq", pa.int64()),
                        ("doc_json", pa.string())])

    def __init__(self, sf_dir: str, name: str, seed: int, n_docs: int,
                 batch: int) -> None:
        self.path = f"{sf_dir}/{name}.parquet"
        os.makedirs(self.path, exist_ok=True)
        self.rng = np.random.default_rng([seed, 1])
        self.batch = batch
        self.seq = 0
        self.files = 0
        self.next_key = 0
        self.latest: dict[str, dict] = {}  # _id -> {gen, deleted, body}
        self._write(self._new_docs(n_docs))

    def _order(self, n: int) -> list[dict]:
        cols = orders_columns(self.rng, n, 1500, self.next_key)
        self.next_key += n
        dates = cols["o_orderdate"].to_pylist()
        return [
            {"o_custkey": int(cols["o_custkey"][i]),
             "o_orderstatus": str(cols["o_orderstatus"][i]),
             "o_totalprice": float(cols["o_totalprice"][i]),
             "o_orderdate": dates[i].strftime("%Y-%m-%d"),
             "o_orderpriority": str(cols["o_orderpriority"][i])}
            for i in range(n)
        ]

    def _row(self, doc_id: str, gen: int, o: dict | None) -> dict:
        self.seq += 1
        rev = _rev(gen, doc_id, self.seq)
        body = (_body(doc_id, rev, o) if o is not None else
                json.dumps({"_id": doc_id, "_rev": rev, "_deleted": True},
                           separators=(",", ":")))
        self.latest[doc_id] = {"gen": gen, "deleted": o is None,
                               "body": body}
        return {"_id": doc_id, "_rev": rev, "_deleted": o is None,
                "seq": self.seq, "doc_json": body}

    def _new_docs(self, n: int) -> list[dict]:
        return [self._row(f"order:{self.next_key - n + i:08d}", 1, o)
                for i, o in enumerate(self._order(n))]

    def _write(self, rows: list[dict]) -> None:
        cols = {f.name: [r[f.name] for r in rows] for f in self.SCHEMA}
        pq.write_table(pa.table(cols, schema=self.SCHEMA),
                       f"{self.path}/part-{self.files:05d}.parquet")
        self.files += 1

    def append_batch(self) -> int:
        """Append one seeded batch of edits, inserts and deletes; return
        the number of documents it changed."""
        kinds = self.rng.choice(list(CHANGE_MIX), self.batch,
                                p=list(CHANGE_MIX.values()))
        live = [k for k, v in self.latest.items() if not v["deleted"]]
        n_ins = int((kinds == "insert").sum())
        rows = self._new_docs(n_ins) if n_ins else []
        n_old = self.batch - n_ins
        picked = self.rng.choice(len(live), n_old, replace=False)
        fresh = self._order(n_old)
        for j, (kind, idx) in enumerate(
                zip(kinds[kinds != "insert"], picked)):
            doc_id = live[int(idx)]
            gen = self.latest[doc_id]["gen"] + 1
            rows.append(self._row(doc_id, gen,
                                  fresh[j] if kind == "edit" else None))
        self._write(rows)
        return len(rows)

    def live_docs(self) -> list[dict]:
        return [json.loads(v["body"]) for v in self.latest.values()
                if not v["deleted"]]


# ---------------------------------------------------------------------------
# corpus_prep corpora
# ---------------------------------------------------------------------------

# The pipeline's DuckDB oracle (all-pairs Jaccard plus a recursive
# connected-components CTE) takes minutes on a corpus of this size, so
# the expected answers are computed once by make_expected.py and stored
# in expected_corpus.json.  A run's seed picks one of the stored corpora.
CORPUS_DOCS = 1000
CORPORA = 4


def corpus_seed(seed: int) -> int:
    return 1000 + seed % CORPORA
