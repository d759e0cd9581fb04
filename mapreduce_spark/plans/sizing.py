"""Sizing: the one place that decides whether engine or extension work
runs as one task or across the cores, from bounds known before any
Spark job runs: the bytes of the files a scan reads (one driver-side
listing; ``scan_width`` for the engine's map phase on every tier,
``spread`` for the extensions) and the row counts the view registry
records (``registry_rows``, ``one_task``, ``one_task_view``).

A one-task plan puts ``coalesce(1)`` below the aggregate, sort, window
or collapse: no exchange, no range partitioner's bounds-sampling job
and no broadcast.  A spread adds one round-robin exchange of the raw
rows above a scan with fewer files than cores.

The map phase, on the total bytes of the files a build or refresh
scans (``FANOUT_MIN_BYTES``):

- at most the limit: the scan is coalesced to one partition below the
  latest-per-``_id`` collapse, so the collapse, the map and a refresh's
  delta write above it run in one task with no exchange; a first build
  writes its base and counts in that same task
  (``Engine._write_bases``).  1 MiB of parquet is several MB decoded,
  ≈ 0.5 s of serial encode, so above it the spread repays its exchange
  and its extra AQE jobs (~0.1-0.3 s of scheduler round-trip each under
  co-tenant contention — the drift mode tests/test_jobcount.py pins
  against).  At the limit one task is no slower on any tier and runs
  fewer jobs.  Measured on a 4-core box at local[4], an 8,000-doc raw
  changes log of 946 KB, one view per tier (MapSpec / Variant JS /
  interpreted JS), median of 6, spread → one task: first build
  0.58 → 0.47, 0.59 → 0.52, 0.69 → 0.56 s at 4/4/7 → 3/3/4 jobs;
  first-layer refresh of a 200-change batch 0.75 → 0.70, 0.65 → 0.62,
  0.83 → 0.59 s at 6/5/7 → 4/4/4 jobs and 9/8/14 → 4/4/4 tasks;
- above it or of unknown size (a remote file, a file that cannot be
  stat-ed), with fewer files than ``defaultParallelism``: the collapsed
  rows are spread to ``defaultParallelism`` partitions.  The fixture
  tables are single-row-group parquet files, so their scan runs on one
  task however Spark splits the file, and the map — and the range
  partitioner's sampling pass, which re-runs it — would serialize on
  it.  The round-robin exchange's map side is that serial scan either
  way, so it adds little.  Measured (r15, quiet window): the fused
  lineitem build, wall 17.7 → 4.3 s at +10 CPU-s (shuffle-row decode
  replacing the vectorized scan under the encode); the interpreted map
  at sf0.1, 22 → 3 s;
- with at least that many files, or with no files at all (a
  ``createDataFrame`` frame): the scan's own partitions, unchanged.  At
  scale a table has more splits than cores and the spread is a no-op.

The listing is of the files the scan's relation covers: it ignores
filters.  A refresh that reads a changes log with ``seq > last_seq``
is therefore sized by the whole log, not by its batch (a filtered read
of a 3-file log still lists 3 files), so once a log passes
``FANOUT_MIN_BYTES`` every refresh takes the spread plan, even for a
200-change batch: 3 delta-write jobs instead of 1.

Registry-bounded work runs as one task when its scanned rows are at
most its limit.  ``ONE_FILE_MAX_ROWS`` bounds the id-only counts
writes (a refresh's lcounts, the range path's base counts pass).
``ONE_TASK_VIEW_MAX_ROWS`` bounds the full-row view work: assembling
base ⊖ tombstones ⊕ deltas for a read (``Engine._assemble_view``) and
for compaction's base write with its counts, where one task over every
column loses to the parallel plan sooner.  Each limit sits near its
crossover, measured on a 4-core box at local[4] over sf0.1 lineitem
views (one task vs the parallel plan):

- sorted write (median of 3): 0.64 vs 0.95 s at 60k rows, 0.83 vs
  0.94 s at 100k, 1.01 vs 0.83 s at 150k, 2.6 vs 1.6 s at 600k (the
  range path then writes 4 files);
- id-only counts write (the lcounts write's shape): 0.42 vs 0.70 s at
  150k rows, 1.16 vs 1.11 s at 600k, 1.77 vs 1.58 s at 1M;
- read of a one-layer view (median of 5-7; grouped ``_count`` / JS
  custom reduce at group_level 2 / map range with include_docs): 30k
  rows 0.17 vs 0.19, 0.67 vs 0.72, 1.18 vs 1.30 s; 60k 0.17 vs 0.17,
  0.76 vs 0.78, 1.19 vs 1.02 s; 85k 0.18 vs 0.16, 0.95 vs 0.80, 1.29
  vs 1.28 s; 100k 0.23 vs 0.17, 0.97 vs 0.81 s; 150k 0.39 vs 0.35,
  2.27 vs 1.57 s; 600k 0.99 vs 0.28, 5.42 vs 2.55 s.  A one-task read
  runs 1 job where the parallel one runs 3 (4 vs 8 with
  include_docs), so above the ~60k wall crossover it trades up to
  ~0.15 s of idle-box wall for 2-4 scheduler round-trips; the window's
  sort by id costs more executor CPU than the broadcast anti-joins
  from 60k up.

The extensions ``spread`` their CPU-bound stages (shingling, md5
fingerprints, language scores, repetition features, n-gram postings,
vector normalization), with no one-task half.  Three sites
deliberately do not (r15); a real corpus arrives with many splits, so
they run in parallel at scale:

- SimHash signatures (``dedup.simhash``): measured 0.5 vs 3.6 CPU-s
  without and with it — the exchange shuffled the full text for
  sub-second work;
- the demo media decode (``multimodal.documents_as_media``): measured
  worse in wall and CPU with it — the decode is too cheap to amortize
  shuffling the media payload;
- ``text.pii_features`` (and ``text.quality_features``): kept a pure
  map with no exchange, as tests/test_extensions.py pins; their bench
  call sites (``inventory.x_text_pii``, ``inventory.x_text_stats``)
  spread the input instead.

Engine code reads the limits as ``sizing.NAME`` when it runs, so a
test that patches them here reaches every call site.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

FANOUT_MIN_BYTES = 1 << 20
ONE_FILE_MAX_ROWS = 1_000_000
ONE_TASK_VIEW_MAX_ROWS = 100_000


def _input_files(df: DataFrame) -> list[str]:
    """The files ``df`` scans; none for a frame without a file scan.

    A driver-side listing (split count ≥ file count), not
    ``df.rdd.getNumPartitions()``, which plans the whole lineage as an
    RDD and, under AQE, runs its shuffle stages as a job."""
    try:
        return df.inputFiles()
    except Exception:
        return []


def _bytes_at_most(files: list[str], limit: int) -> bool:
    """True when the local ``files`` total at most ``limit`` bytes;
    False when one is remote or cannot be stat-ed (size unknown)."""
    total = 0
    for uri in files:
        parts = urlparse(uri)
        if parts.scheme not in ("", "file"):
            return False
        try:
            total += os.path.getsize(unquote(parts.path))
        except OSError:
            return False
        if total > limit:
            return False
    return True


def _spread_width(df: DataFrame, files: list[str]) -> int:
    """``defaultParallelism`` when the scan has files but fewer than
    that, else 0 (leave its partitions alone)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return n if 0 < len(files) < n else 0


def scan_width(df: DataFrame) -> int:
    """The map phase's width over ``df``'s scan, from one listing of
    its files: 1 (one task) when they total at most
    ``FANOUT_MIN_BYTES``, ``defaultParallelism`` (spread) when above it
    with fewer files than that, 0 (the scan's own partitions)
    otherwise."""
    files = _input_files(df)
    if files and _bytes_at_most(files, FANOUT_MIN_BYTES):
        return 1
    return _spread_width(df, files)


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to ``defaultParallelism`` when its scan has
    fewer files than that, so a CPU-bound stage over a small input does
    not serialize onto one task; unchanged otherwise."""
    n = _spread_width(df, _input_files(df))
    return df.repartition(n) if n else df


def one_task(rows_bound: int | None, max_rows: int) -> bool:
    """True when work whose scanned input is bounded by ``rows_bound``
    rows (None: unknown) runs as one task."""
    return rows_bound is not None and rows_bound <= max_rows


def registry_rows(entry: dict, layer_key: str) -> int | None:
    """A view entry's ``base_rows`` plus every layer's ``layer_key``:
    ``"rows"`` (delta rows) bounds what assembling the view scans, for
    a read or a full compaction,
    ``"n"`` (changed ids) the count pieces (a base counts file holds
    at most ``base_rows`` rows, a layer's lcounts at most its ``n``).
    None when any of those fields is missing (storage written before
    they were recorded)."""
    rows = [entry.get("base_rows")]
    rows += [layer.get(layer_key) for layer in entry["layers"]]
    return None if None in rows else sum(rows)


def one_task_view(entry: dict | None) -> bool:
    """True when assembling ``entry``'s view (base and every delta,
    ``registry_rows``) runs as one task — for a read and for the
    compaction that folds it alike."""
    return entry is not None and one_task(
        registry_rows(entry, "rows"), ONE_TASK_VIEW_MAX_ROWS
    )
