"""The three workloads.

Each workload makes its inputs from the seed, sets itself up
(``setup_once``, timed by the runner and repeated), warms up, and then
runs closed-loop operations from one thread (``run``).  Every operation
is timed from outside through the package's public functions and its
answer is checked against an oracle outside the timed span.

- ``read_warm``: the warm inventory read path (``Inventory`` queries,
  ``stale='ok'``) over indexes built in set-up, in seeded order, whole
  cycles only, so every run times the same set of reads.
- ``maintain_mixed``: a CouchDB-style changes log; each step appends a
  seeded batch (untimed), refreshes one view per map tier with
  ``Engine.update_view`` and reads each view back with ``stale='ok'``.
- ``corpus_prep``: ``x_pipeline`` (exact dedup, MinHash-LSH, connected
  components, stratified sample, pack) over a stored corpus.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import duckdb

import datagen
from spans import GroupCounters, tree_cpu_s, ungrouped_totals

# read_warm: the Inventory's warm queries, minus q18 (a rebuild
# equivalence check: it builds views rather than reading them) and q33
# (known wrong answer: the interpreted JS custom reduce leaves partial
# groups un-merged, so it returns more groups than the DuckDB oracle)
READ_SKIP = {"q18", "q33"}

READ_SF = 0.01
READ_DOCS = 500
LOG_DOCS = 2_000
LOG_BATCH = 200
COMPACT_AFTER = 2

TIER_SPAN = {"mapspec": "refresh.mapspec", "variant": "refresh.variant",
             "interp": "refresh.interp"}


def _duck_views(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


class Workload:
    name = ""
    # set-ups per run; setup_s is their median
    setup_reps = 3

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}

    def _timed_build(self, put_ms: float, build) -> None:
        """Run ``build`` and record the set-up layer figures (whole-store
        deltas: the build thread pools drop the job group)."""
        jobs0, cpu0 = ungrouped_totals(self.spark)
        t = time.perf_counter()
        build()
        build_s = time.perf_counter() - t
        jobs1, cpu1 = ungrouped_totals(self.spark)
        for k, v in (("functions.put_design_ms", put_ms),
                     ("setup.build_s", build_s),
                     ("setup.build_cpu_s", (cpu1 - cpu0) / 1e9),
                     ("setup.build_jobs", jobs1 - jobs0)):
            self.layer.setdefault(k, []).append(v)

    def warmup(self) -> None:
        """Untimed operations before the measured ones (none by
        default)."""

    # one closed-loop operation: timed call, then the untimed check
    def _op(self, kind: str, fn, check, items: float = 1.0,
            traced: bool = False) -> dict:
        tr = self.tracer
        tr.enabled = traced
        since = len(tr.spans)
        err = None
        result = None
        cpu0 = tree_cpu_s()
        with tr.span("op", op=kind, group=True, always=True) as rec:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception as e:  # a failed op, not a crashed run
                err = e
            wall = time.perf_counter() - t0
        cpu_s = tree_cpu_s() - cpu0
        tr.enabled = False
        tr.collect_counters(since)
        ok = err is None
        if ok:
            try:
                ok = bool(check(result))
            except Exception as e:
                ok, err = False, e
        op = {"kind": kind, "wall": wall, "cpu_s": cpu_s, "ok": ok,
              "items": items, "traced": traced, "span": rec,
              "counters": tr.op_counters(rec)}
        if not ok:
            op["error"] = repr(err)[:300] if err else "wrong answer"
        self.ops.append(op)
        return op


# ---------------------------------------------------------------------------
# read_warm
# ---------------------------------------------------------------------------

class ReadWarm(Workload):
    name = "read_warm"

    def prepare(self) -> None:
        from mapreduce_spark.inventory import ORACLE_SQL
        from tools.check_contract import table_hash

        self.sf_dir = f"{self.work}/sf"
        datagen.write_tables(self.sf_dir, self.seed, READ_SF, READ_DOCS)
        con = _duck_views(self.sf_dir, (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings").split())
        self.expected = {}
        for name, sql in ORACLE_SQL.items():
            if name in READ_SKIP:
                continue
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            self.expected[name] = (sorted(c.lower() for c in cols),
                                   table_hash(cols, cur.fetchall()))
        con.close()

    def setup_once(self, i: int) -> None:
        from mapreduce_spark.engine import Engine
        from mapreduce_spark.inventory import Inventory

        eng = Engine(self.spark, self.sf_dir, f"{self.work}/views-{i}")
        t = time.perf_counter()
        inv = Inventory(self.spark, self.sf_dir, engine=eng, warm=True)
        self._timed_build((time.perf_counter() - t) * 1e3, inv.materialize)
        if i > 0:
            shutil.rmtree(f"{self.work}/views-{i - 1}", ignore_errors=True)
        self.inv = inv
        qs = inv.all_queries()
        self.queries = {n: qs[n] for n in sorted(self.expected)}

    def _read(self, name: str, traced: bool) -> dict:
        from tools.check_contract import table_hash

        fn = self.queries[name]
        cols_exp, h_exp = self.expected[name]
        tr = self.tracer

        def call():
            df = fn()
            with tr.span("operators.collect", group=True):
                rows = [tuple(r) for r in df.collect()]
            return df.columns, rows

        def check(res):
            cols, rows = res
            return (sorted(c.lower() for c in cols) == cols_exp
                    and table_hash(cols, rows) == h_exp)

        return self._op(name, call, check, traced=traced)

    def warmup(self) -> None:
        for name in self.queries:
            self._read(name, False)

    def run(self, seconds: float, trace: bool) -> None:
        rng = random.Random(self.seed)
        names = list(self.queries)
        t_end = time.perf_counter() + seconds
        cycle = 0
        # whole cycles only: every run times the same multiset of reads;
        # a traced run alternates untraced and traced cycles
        while (time.perf_counter() < t_end
               or (trace and cycle < 2)):
            rng.shuffle(names)
            for name in names:
                self._read(name, trace and cycle % 2 == 1)
            cycle += 1


# ---------------------------------------------------------------------------
# maintain_mixed
# ---------------------------------------------------------------------------

_VAR = "variant_get(parse_json(doc_json), '$.{}', '{}')"


def _log_views() -> dict:
    from mapreduce_spark.operators.mapphase import MapSpec

    return {
        "by_status_prio": {
            "map": MapSpec(
                "olog",
                [("str", _VAR.format("status", "string")),
                 ("str", _VAR.format("priority", "string"))],
                ("num", _VAR.format("price", "double")),
            ),
            "reduce": "_sum",
        },
        # compiled to the Variant tier (functions/jsvariant.py)
        "open_by_prio": {
            "map": ("olog", "function(doc){ if (doc.status !== 'P') "
                            "{ emit(doc.priority, doc.price); } }"),
            "reduce": "_count",
        },
        # the alias mutation keeps this source on the statement
        # interpreter; the guard is false on every generated doc
        "by_status": {
            "map": ("olog", "function(doc){ var s = doc.status; "
                            "if (doc.status === null) { s = 'none'; } "
                            "emit(s, doc.price); }"),
            "reduce": "_sum",
        },
    }


LOG_TIERS = {"by_status_prio": "mapspec", "open_by_prio": "variant",
             "by_status": "interp"}

# DuckDB answers over the log: latest row per _id, deletes dropped
_LIVE = """
WITH latest AS (
  SELECT * FROM read_parquet('{path}/*.parquet')
  QUALIFY row_number() OVER (PARTITION BY _id ORDER BY seq DESC) = 1),
live AS (
  SELECT json_extract_string(doc_json, '$.status') AS status,
         json_extract_string(doc_json, '$.priority') AS priority,
         CAST(json_extract(doc_json, '$.price') AS DOUBLE) AS price
  FROM latest WHERE NOT _deleted)
"""
LOG_ORACLE = {
    "by_status_prio": "SELECT to_json([status, priority]), sum(price) "
                      "FROM live GROUP BY 1",
    "open_by_prio": "SELECT to_json(priority), count(*)::DOUBLE "
                    "FROM live WHERE status <> 'P' GROUP BY 1",
    "by_status": "SELECT to_json(status), sum(price) FROM live "
                 "GROUP BY 1",
}


def _canon_rows(rows) -> list:
    return sorted((json.dumps(json.loads(k), separators=(",", ":")),
                   float(v)) for k, v in rows)


class MaintainMixed(Workload):
    name = "maintain_mixed"

    def prepare(self) -> None:
        from mapreduce_spark.sources.docs import raw_doc_table, register_table

        register_table(raw_doc_table("olog"))
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 1")

    def _engine(self, store: str):
        from mapreduce_spark.engine import Engine

        eng = Engine(self.spark, self.sf_dir, store,
                     compact_after=COMPACT_AFTER)
        eng.put_design("log", _log_views())
        return eng

    def _check_tiers(self, eng) -> None:
        from mapreduce_spark.functions.jsvariant import VariantJSView
        from mapreduce_spark.operators.mapphase import MapSpec

        want = {"mapspec": MapSpec, "variant": VariantJSView,
                "interp": tuple}
        for view, tier in LOG_TIERS.items():
            m = eng._defs[eng.registry.resolve("log", view)].map_def
            if not isinstance(m, want[tier]):
                raise AssertionError(f"view {view} left the {tier} tier: "
                                     f"{type(m).__name__}")

    def setup_once(self, i: int) -> None:
        self.sf_dir = f"{self.work}/log-{i}"
        self.log = datagen.ChangeLog(self.sf_dir, "olog", self.seed,
                                     LOG_DOCS, LOG_BATCH)
        t = time.perf_counter()
        eng = self._engine(f"{self.work}/views-{i}")
        put_ms = (time.perf_counter() - t) * 1e3
        self._check_tiers(eng)
        self._timed_build(put_ms, lambda: [eng.update_view(f"log/{v}")
                                           for v in LOG_TIERS])
        if i > 0:
            shutil.rmtree(f"{self.work}/log-{i - 1}", ignore_errors=True)
            shutil.rmtree(f"{self.work}/views-{i - 1}", ignore_errors=True)
        self.eng = eng
        self.compact = {"count": 0, "s": 0.0, "bytes": 0}
        self.depths: list[int] = []
        self.refresh = {t: [] for t in LOG_TIERS.values()}
        self.refresh_jobs = self.refresh_cpu = self.written = 0
        self.changes = 0

    def _expected(self) -> dict:
        out = {}
        for view, sql in LOG_ORACLE.items():
            rows = self.duck.execute(
                _LIVE.format(path=self.log.path) + sql).fetchall()
            out[view] = _canon_rows(rows)
        return out

    def _step(self, traced: bool) -> None:
        """Append one batch, then one operation per view: refresh it
        and read it back."""
        n = self.log.append_batch()  # the database's write: untimed
        expected = self._expected()
        eng, tr = self.eng, self.tracer
        for view, tier in LOG_TIERS.items():
            name = f"log/{view}"
            before = eng.info(name)

            def call():
                with tr.span(TIER_SPAN[tier], group=True):
                    eng.update_view(name)
                with tr.span("read", group=True):
                    if tr.enabled:
                        self.depths.append(eng.info(name)["layer_count"])
                    res = eng.query(name, group=True, stale="ok")
                    with tr.span("operators.collect", group=True):
                        return [(json.dumps(r["key"]), r["value"])
                                for r in res.rows()]

            op = self._op(tier, call,
                          lambda got: _canon_rows(got) == expected[view],
                          items=n, traced=traced)
            if traced:
                self._account(op, name, before, n)

    def _account(self, op: dict, name: str, before: dict, n: int) -> None:
        """Per-layer bookkeeping of one traced refresh-and-read."""
        refresh = next(r for r in self.tracer.spans[op["span"]["id"]:]
                       if r["name"].startswith("refresh."))
        wall = refresh["end"] - refresh["start"]
        self.refresh[op["kind"]].append(wall)
        c = refresh.get("counters") or GroupCounters()
        self.refresh_jobs += c.jobs
        self.refresh_cpu += c.cpu_ns
        self.changes += n
        after = self.eng.info(name)
        grew = after["sizes"]["file"] - before["sizes"]["file"]
        self.written += grew
        if after["compacted_version"] != before["compacted_version"]:
            self.compact["count"] += 1
            self.compact["bytes"] += max(grew, 0)
            self.compact["s"] += wall

    def run(self, seconds: float, trace: bool) -> None:
        # whole rounds of COMPACT_AFTER steps: each round puts one delta
        # layer on every view and then compacts it, so every run times
        # the same mix of refreshes; a traced run alternates untraced
        # and traced rounds
        t_end = time.perf_counter() + seconds
        rnd = 0
        while time.perf_counter() < t_end or rnd < (2 if trace else 1):
            for _ in range(COMPACT_AFTER):
                self._step(trace and rnd % 2 == 1)
            rnd += 1

    def teardown_layers(self) -> None:
        """space_amp: bytes of the maintained views over the bytes of
        the same views rebuilt from scratch (untimed)."""
        kept = sum(self.eng.info(f"log/{v}")["sizes"]["file"]
                   for v in LOG_TIERS)
        fresh = self._engine(f"{self.work}/rebuilt")
        for v in LOG_TIERS:
            fresh.update_view(f"log/{v}")
        rebuilt = sum(fresh.info(f"log/{v}")["sizes"]["file"]
                      for v in LOG_TIERS)
        self.layer["space_amp"] = kept / max(rebuilt, 1)


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------

def _load_expected() -> dict:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "expected_corpus.json")) as fh:
        return json.load(fh)


class CorpusPrep(Workload):
    name = "corpus_prep"
    # its set-up takes half a second, so take more for a steady median
    setup_reps = 9

    def prepare(self) -> None:
        self.corpus = self.seed % datagen.CORPORA
        self.expected = _load_expected()[str(self.corpus)]

    def setup_once(self, i: int) -> None:
        self.sf_dir = f"{self.work}/corpus-{i}"
        datagen.write_documents(self.sf_dir,
                                datagen.corpus_seed(self.seed),
                                datagen.CORPUS_DOCS)
        n = self.spark.read.parquet(
            f"{self.sf_dir}/documents.parquet").count()
        if n != datagen.CORPUS_DOCS:
            raise AssertionError(f"corpus has {n} documents")
        if i > 0:
            shutil.rmtree(f"{self.work}/corpus-{i - 1}", ignore_errors=True)

    def _staged(self):
        """x_pipeline's composition from the same public functions, each
        stage's output materialised at its boundary (traced runs)."""
        from pyspark.sql import functions as F

        from mapreduce_spark.extensions import dedup, sampling
        from mapreduce_spark.extensions.inventory import (
            JACCARD_T,
            PIPE_BUDGET,
            PIPE_N,
            _docs,
        )

        tr = self.tracer
        docs = _docs(self.spark, self.sf_dir)
        with tr.span("extensions.exact_dedup", group=True):
            d = dedup.exact_dedup(docs)
            keep = docs.join(d.filter(~F.col("is_dup")).select("doc_id"),
                             "doc_id").localCheckpoint()
        with tr.span("extensions.minhash_pairs", group=True):
            pairs = dedup.minhash_lsh_pairs(keep, JACCARD_T) \
                .localCheckpoint()
        with tr.span("extensions.components", group=True):
            clusters = dedup.duplicate_clusters(keep, JACCARD_T,
                                                pairs=pairs)
            near = clusters.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select("doc_id").localCheckpoint()
        with tr.span("extensions.sample_pack", group=True):
            kept = keep.join(near, "doc_id", "left_anti")
            samp = sampling.stratified_sample(kept, PIPE_N,
                                              stratum_col="lang")
            toks = samp.select(
                "doc_id", "lang",
                F.size(F.split("text", " ")).cast("long").alias("n_tok"),
            )
            out = sampling.pack_sequences(toks, PIPE_BUDGET,
                                          token_col="n_tok")
            df = out.select("doc_id", "lang", "n_tok", "bin", "off")
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def _pipeline(self, traced: bool) -> dict:
        from mapreduce_spark.extensions.inventory import x_pipeline
        from tools.check_contract import table_hash

        def call():
            if traced:
                return self._staged()
            df = x_pipeline(self.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        def check(res):
            cols, rows = res
            return (len(rows) == self.expected["rows"]
                    and table_hash(cols, rows) == self.expected["hash"])

        return self._op("pipeline", call, check,
                        items=datagen.CORPUS_DOCS, traced=traced)

    def run(self, seconds: float, trace: bool) -> None:
        # no warm-up: a batch job pays its first-run costs in every
        # process.  A traced run makes three (untraced, traced,
        # untraced) so the traced one is compared with a later untraced
        # one
        t_end = time.perf_counter() + seconds
        k = 0
        while (time.perf_counter() < t_end
               or k < (3 if trace else 1)):
            self._pipeline(trace and k % 2 == 1)
            k += 1


WORKLOADS = {w.name: w for w in (ReadWarm, MaintainMixed, CorpusPrep)}
