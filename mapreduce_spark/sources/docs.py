"""Doc-model adapter: testdata parquet tables → document DataFrames.

The reference's data model is an unordered collection of JSON documents
with ``_id``/``_deleted`` and a monotone change sequence ``seq``
(SURVEY.md §1.1; upstream pouchdb core).  FIXTURES.md pins the wrapping of
the driver's relational testdata into that model:

    _id  = '<table>:<zero-padded pk>'
    seq  = deterministic monotone int (table order)
    body = the row with numbers as IEEE-754 doubles and timestamps as
           ISO-8601 strings; events.props parsed as a nested object

Design notes (Spark-first, 100 TB-aware):

- ``seq`` is computed as a *monotone arithmetic function of the primary
  key*, never via a global window/row_number — a global ordering shuffle
  on the base table would be a scale killer and is unnecessary because
  the fixtures define table order == pk order.
- The doc "body" is NOT materialized as a JSON string on the hot path.
  Views built through the structured fast path never leave the JVM;
  bodies only materialize (a) as typed struct columns for
  ``include_docs`` joins and (b) as Python dicts inside ``mapInPandas``
  for user Python map functions.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def nanos_as_long(spark: SparkSession):
    """Scoped opt-in for reading TIMESTAMP(NANOS) parquet as long.

    Spark 4 has no nanosecond timestamp type; the legacy conf maps the
    parquet type to LongType during schema resolution.  Batch reads
    only need it while the footer schema is resolved (``load_table``
    scopes it automatically); STREAMING reads re-resolve footers per
    micro-batch on executors, so wrap the whole stream lifetime:

        with nanos_as_long(spark):
            q = spark.readStream.schema(s).parquet(d)...start()
            q.awaitTermination()

    Restores the previous conf value on exit either way, so the
    session's parse behavior never leaks into user code.
    """
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev: str | None = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"


@dataclass(frozen=True)
class DocTable:
    """Metadata for wrapping one relational table as documents."""

    name: str
    # printf-style pattern over pk columns, e.g. 'customer:%06d'
    id_format: str
    pk: tuple[str, ...]
    # seq = arithmetic monotone function of pk (expression string)
    seq_expr: str
    timestamp_cols: tuple[str, ...] = ()
    json_cols: tuple[str, ...] = ()  # JSON-string cols parsed into objects
    array_cols: tuple[str, ...] = ()  # kept as typed arrays (embeddings)
    # parquet TIMESTAMP(NANOS) columns: Spark 4 has no nanos timestamp —
    # read as long via the legacy conf and convert (exact integer DIV)
    ns_timestamp_cols: tuple[str, ...] = ()
    # Conservative PUSHABLE bounds for incremental (changes-feed)
    # scans.  When ``seq_expr`` is arithmetic over several columns
    # (lineitem), the exact `seq > since` filter cannot reach the
    # parquet reader — at 100 TB every refresh would scan the whole
    # table.  These format strings (over ``{seq}``) produce plain
    # single-column predicates IMPLIED BY the exact filter, which DO
    # push down to row-group pruning; the exact filter still applies
    # on top.  None (single-column seq) needs no coarse bound — the
    # plain comparison already pushes.
    seq_lo_pred: str | None = None  # implied by seq_expr >  {seq}
    seq_hi_pred: str | None = None  # implied by seq_expr <= {seq}
    # raw CouchDB-style source: the table IS documents — columns
    # ``_id STRING, seq LONG, doc_json STRING`` (+ optional
    # ``_rev STRING, _deleted BOOLEAN``), i.e. the shape of a PouchDB
    # export / changes feed.  ``id_format``/``pk`` are unused; map fns
    # see the parsed ``doc_json`` body (with row ``_id``/``_rev``
    # authoritative); ``include_docs`` returns ``doc_json`` verbatim —
    # store ``_id``/``_rev`` in the body if you want them in the
    # include_docs output, as CouchDB exports do.
    raw_json: bool = False
    # whether the table's pk — hence the derived ``_id`` — is KNOWN
    # unique.  Declared-unique tables skip the per-query duplicate-id
    # collapse on the include_docs doc-fetch side — a groupBy(_id)
    # exchange over doc bodies that the broadcast-pruned join shape
    # no longer absorbs.  Defaults to False (collapse — safe for any
    # data): the flag is an explicit contract the table owner opts
    # into, because a silently-duplicated pk would otherwise fan out
    # include_docs rows.  Raw tables always collapse regardless
    # (multi-revision rows share an _id by design); the fixture
    # tables opt in below except the synthetic lineitem (~20%
    # duplicated pk pairs, FIXTURES.md).
    pk_unique: bool = False


def raw_doc_table(name: str, *, seq_expr: str = "seq") -> DocTable:
    """DocTable for a raw CouchDB-style docs table (see ``raw_json``)."""
    return DocTable(name, "%s", ("_id",), seq_expr, raw_json=True)


@contextmanager
def variant_shredding(spark: SparkSession):
    """Scoped opt-in for Parquet VARIANT shredding on write.

    Shredding stores the variant's common fields as real Parquet
    columns (schema inferred per file), so downstream reads that
    extract those fields get columnar IO + min/max stats instead of
    decoding the whole binary variant per row; rare/deep fields stay
    in the binary residual.  Spark 4.1 gates it behind these confs."""
    keys = {
        "spark.sql.variant.writeShredding.enabled": "true",
        "spark.sql.variant.inferShreddingSchema": "true",
    }
    prev: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, p in prev.items():
            if p is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)


def shred_raw_table(spark: SparkSession, sf_dir: str, table: str,
                    dest_dir: str) -> str:
    """One-time ingest conversion of a raw docs table: the
    ``doc_json STRING`` body becomes a shredded ``doc_var VARIANT``
    parquet column (round 11, VERDICT r10 #4).

    Why: every variant-tier read of a JSON-string table pays a full
    ``parse_json(doc_json)`` per row AT THE SCAN — at 100 TB that
    parse dominates the build.  Stored as VARIANT, the parse happens
    ONCE here; with shredding, compiled field extractions read real
    Parquet columns.  The string table stays the fallback — nothing
    requires conversion; ``load_table`` transparently serves either
    layout (deriving ``doc_json`` via ``to_json`` for the interpreter
    tier / include_docs, pruned away on the compiled path).

    Returns the new table's parquet path
    (``<dest_dir>/<table>.parquet``)."""
    df = load_table(spark, sf_dir, table)
    keep = [c for c in ("_id", "_rev", "_deleted", "seq")
            if c in df.columns]
    # parquet readers split at row-group/file boundaries: writing the
    # converted table as a handful of big files would serialize every
    # downstream scan, so spread it over the session's parallelism —
    # but RANGE-partitioned and sorted by the change sequence, so
    # row-group min/max stats keep pruning incremental `seq > since`
    # refresh scans (a round-robin spread scatters seq and turns
    # every refresh into a full-table scan).  The shuffle runs BEFORE
    # the parse so it carries compact JSON strings, not materialized
    # variant rows.
    seq_col = F.expr(TABLES[table].seq_expr).cast("long")
    out = (
        df.select(*keep, "doc_json")
        .repartitionByRange(
            spark.sparkContext.defaultParallelism, seq_col
        )
        .sortWithinPartitions(seq_col)
        .select(*keep, F.expr("parse_json(doc_json)").alias("doc_var"))
    )
    path = f"{dest_dir}/{table}.parquet"
    with variant_shredding(spark):
        out.write.mode("overwrite").parquet(path)
    return path


def register_table(t: DocTable) -> None:
    """Register a user table so views can map over it.

    The engine reads ``<sf_dir>/<name>.parquet`` (or the JSON-lines /
    CSV fallbacks, sources/formats.py).  Re-registering a name
    replaces its metadata — the caller owns name collisions."""
    TABLES[t.name] = t


TABLES: dict[str, DocTable] = {
    t.name: t
    for t in [
        DocTable("region", "region:%02d", ("r_regionkey",),
                 "r_regionkey", pk_unique=True),
        DocTable("nation", "nation:%02d", ("n_nationkey",),
                 "n_nationkey", pk_unique=True),
        DocTable("customer", "customer:%06d", ("c_custkey",),
                 "c_custkey", pk_unique=True),
        DocTable("supplier", "supplier:%06d", ("s_suppkey",),
                 "s_suppkey", pk_unique=True),
        DocTable("part", "part:%06d", ("p_partkey",),
                 "p_partkey", pk_unique=True),
        DocTable(
            "orders",
            "orders:%09d",
            ("o_orderkey",),
            "o_orderkey",
            timestamp_cols=("o_orderdate",),
            pk_unique=True,
        ),
        DocTable(
            "lineitem",
            "lineitem:%09d-%d",
            ("l_orderkey", "l_linenumber"),
            # TPC-H linenumber is 1..7, so *8 keeps seq strictly monotone
            "l_orderkey * 8 + l_linenumber",
            timestamp_cols=("l_shipdate",),
            # seq = ok*8 + ln with ln ∈ [1,7]:
            #   seq >  s ⟹ ok ≥ (s-7) div 8   (weakest safe lower bound)
            #   seq <= s ⟹ ok ≤ (s-1) div 8
            seq_lo_pred="l_orderkey >= (({seq} - 7) DIV 8)",
            seq_hi_pred="l_orderkey <= (({seq} - 1) DIV 8)",
            # stays on the collapse path: driver data duplicates
            # ~20% of (l_orderkey, l_linenumber) pairs
        ),
        DocTable(
            "events",
            "events:%06d",
            ("event_id",),
            "event_id",
            timestamp_cols=("ts",),
            json_cols=("props",),
            ns_timestamp_cols=("ts",),
            pk_unique=True,
        ),
        DocTable("documents", "documents:%06d", ("doc_id",),
                 "doc_id", pk_unique=True),
        DocTable(
            "embeddings",
            "embeddings:%06d",
            ("vec_id",),
            "vec_id",
            array_cols=("embedding",),
        ),
    ]
}


# path → (leaf files, Spark schema, reference footer).  Schema
# inference is a whole Spark job per spark.read.parquet call; one
# inference per table path per CONTENT VERSION is enough.  Only the
# SCHEMA is cached, never the file list: raw sources are append-only
# changes feeds (tests and real CouchDB exports append new part
# files), so every read re-lists the directory (driver-side, no job)
# and new batches stay visible.  The entry is keyed on every leaf
# file's (name, size, mtime): dir mtime alone misses an IN-PLACE
# rewrite of an existing part file (same name, new content/schema) —
# size + per-file mtime catch it without hashing (ADVICE r11).
#
# An append keeps the entry: when every leaf seen before is unchanged
# and each new file sits in a directory that already held one and
# carries a footer schema equal to the reference footer (one leaf's,
# read with pyarrow at inference; metadata compared too), the cached
# schema still holds — read on the driver, no Spark job.  Anything
# else re-infers: a changed or removed file, a new partition
# directory (its value could change a partition column's type), or a
# new footer — e.g. the first batch carrying the optional
# ``_deleted``, which a stale explicit schema would null-fill.
_SCHEMA_CACHE: dict[str, tuple[dict, object, object]] = {}


def _leaf_files(path: str) -> dict[str, tuple[int, int]] | None:
    """(relative name → (size, mtime_ns)) of every file under a parquet
    table path (driver-side listing only — no Spark job, no file
    reads); None when the path cannot be listed.

    Recurses into subdirectories so hive-partitioned layouts
    (``key=…/part-*.parquet``) are keyed by their leaf files too — a
    top-level-only scan would miss an in-place rewrite of a nested
    part (the exact staleness mode this cache key exists to close).

    Cost contract (ADVICE r12): O(files) driver-side stats per
    load_table call — microseconds on a local FS at the file counts a
    warehouse table has, which is this engine's stated lock/registry
    filesystem contract anyway.  Deliberately NOT TTL-memoized: a
    time-based cache re-opens the append-visibility staleness the
    round-11 drift tests pinned shut.  If remote/object-store tables
    ever become a target, swap this for the store's listing API
    version token rather than adding a TTL here."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return {"": (st.st_size, st.st_mtime_ns)}
    out = {}
    try:
        for root, _dirs, files in os.walk(path):
            for fn in files:
                full = os.path.join(root, fn)
                try:
                    s = os.stat(full)
                except OSError:
                    continue
                out[os.path.relpath(full, path)] = (
                    s.st_size, s.st_mtime_ns
                )
    except OSError:
        return None
    return out


def _footer(path: str, rel: str):
    """pyarrow footer schema of one leaf file, or None if unreadable."""
    import pyarrow.parquet as pq

    try:
        return pq.read_schema(os.path.join(path, rel) if rel else path)
    except Exception:
        return None


def _same_schema_append(path: str, seen: dict, leaves: dict,
                        ref) -> bool:
    """True when ``leaves`` only adds files to ``seen`` (every seen file
    unchanged) and each added file has footer ``ref``, in a directory
    that already held a seen file."""
    if ref is None or any(leaves.get(k) != v for k, v in seen.items()):
        return False
    dirs = {os.path.dirname(k) for k in seen}
    for rel in leaves.keys() - seen.keys():
        if os.path.dirname(rel) not in dirs:
            return False
        new = _footer(path, rel)
        if new is None or not new.equals(ref, check_metadata=True):
            return False
    return True


def _cached_schema(path: str):
    """(current leaf files, cached schema or None) for ``path``."""
    leaves = _leaf_files(path)
    if leaves is None:
        return None, None
    hit = _SCHEMA_CACHE.get(path)
    if hit is None:
        return leaves, None
    seen, schema, ref = hit
    if leaves == seen:
        return leaves, schema
    if _same_schema_append(path, seen, leaves, ref):
        _SCHEMA_CACHE[path] = (leaves, schema, ref)
        return leaves, schema
    return leaves, None


def _remember_schema(path: str, leaves, schema) -> None:
    if leaves is None:
        return
    # the reference footer: the first data file's (Spark's hidden-file
    # rule: names starting with "_" or "." are not data)
    data = sorted(
        r for r in leaves
        if not os.path.basename(r).startswith(("_", "."))
    )
    ref = _footer(path, data[0]) if data else None
    _SCHEMA_CACHE[path] = (leaves, schema, ref)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw typed table (filters/pruning push into parquet).

    Tables with TIMESTAMP(NANOS) parquet columns (Spark 4 cannot read
    them natively) are read with nanosAsLong and converted back to
    microsecond timestamps via exact integer division — same truncation
    Spark applies to TIMESTAMP(MICROS) anyway.
    """
    t = TABLES.get(name)
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.exists(path):
        # source-format fallback: the table may live as JSON-lines or
        # CSV (sources/formats.py) — resolved once, same raw shape out
        from mapreduce_spark.sources.formats import (
            load_formatted,
            table_path,
        )

        found = table_path(sf_dir, name)
        if found is not None:
            return load_formatted(spark, found[0], found[1], name)
    leaves, cached = _cached_schema(path)
    if t and t.raw_json:
        df = (spark.read.schema(cached).parquet(path)
              if cached is not None else spark.read.parquet(path))
        if cached is None:
            _remember_schema(path, leaves, df.schema)
        if "doc_var" in df.columns and "doc_json" not in df.columns:
            # VARIANT-stored body (see shred_raw_table): derive the
            # doc_json view lazily — Catalyst prunes the to_json when
            # nothing reads it, so the compiled variant tier (which
            # reads doc_var directly) never pays the serialization;
            # the interpreter tier and include_docs read doc_json as
            # before (normalized key order — semantically the same
            # body)
            df = df.withColumn("doc_json", F.expr("to_json(doc_var)"))
        return df
    if t and t.ns_timestamp_cols:
        # batch reads resolve the footer schema eagerly, so the conf
        # is only needed inside this scope; execution captures it in
        # the scan's hadoop conf.  The conf only rewrites TIMESTAMP(NANOS)
        # columns — generators that write micros/ntz come through as real
        # timestamps, so convert adaptively per actual column type.
        with nanos_as_long(spark):
            if cached is not None:
                df = spark.read.schema(cached).parquet(path)
            else:
                df = spark.read.parquet(path)
                _remember_schema(path, leaves, df.schema)
        return ts_to_micros(df, name)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _remember_schema(path, leaves, df.schema)
    return df


def ts_to_micros(df: DataFrame, table: str) -> DataFrame:
    """Normalize a table's ``ns_timestamp_cols`` to naive microsecond
    timestamps, whatever the parquet footer presented them as.

    One shared conversion for every read site (``load_table`` batch
    reads AND ``readStream`` micro-batch sources), adaptive per actual
    column dtype:

    - ``bigint``        — TIMESTAMP(NANOS) read under ``nanos_as_long``:
      exact integer ``DIV 1000`` back to micros.
    - ``timestamp``     — LTZ micros: cast to ``timestamp_ntz`` so doc-
      space ISO rendering is session-timezone invariant (the engine
      pins UTC, but library users may not).
    - ``timestamp_ntz`` — already naive micros; passthrough.
    - anything else     — a foreign generator wrote an unexpected type;
      fail loudly rather than let a string/date leak into doc space.
    """
    t = TABLES.get(table)
    if not t or not t.ns_timestamp_cols:
        return df
    dtypes = dict(df.dtypes)
    for c in t.ns_timestamp_cols:
        dt = dtypes.get(c)
        if dt is None:
            continue  # pruned upstream
        if dt == "bigint":
            df = df.withColumn(
                c,
                F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS LONG))"),
            )
        elif dt == "timestamp":
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
        elif dt == "timestamp_ntz":
            pass
        else:
            raise TypeError(
                f"{table}.{c}: expected a timestamp-like column "
                f"(bigint nanos / timestamp / timestamp_ntz), got {dt}"
            )
    return df


def doc_id_col(table: str) -> Column:
    """The ``_id`` column expression for a table (JVM-side format_string)."""
    t = TABLES[table]
    if t.raw_json:
        return F.col("_id")
    return F.format_string(t.id_format, *[F.col(c) for c in t.pk])


def as_docs(df: DataFrame, table: str, *, doc_space: bool = True) -> DataFrame:
    """Raw-schema rows → documents: ``_id``, ``_deleted``, ``seq`` + body.

    Works over the base table *or* any changes batch with the same raw
    schema (the S1 changes-feed path).  With ``doc_space=True`` body
    columns are converted to the reference's JSON doc space (numbers →
    double, timestamps → ISO strings; JSON-string cols stay strings here
    and are parsed to objects only in the Python map path, see
    ``doc_records``).
    """
    t = TABLES[table]
    have_deleted = "_deleted" in df.columns
    if t.raw_json:
        # the table already IS documents: normalize metadata columns,
        # keep the body verbatim
        seq = F.expr(t.seq_expr).cast("long")
        rev = (
            F.col("_rev") if "_rev" in df.columns
            else F.concat(
                F.lit("1-"),
                F.md5(F.concat_ws(":", F.col("_id"),
                                  seq.cast("string"))),
            )
        )
        return df.select(
            F.col("_id"),
            rev.alias("_rev"),
            (F.coalesce(F.col("_deleted"), F.lit(False)) if have_deleted
             else F.lit(False)).alias("_deleted"),
            seq.alias("seq"),
            F.col("doc_json"),
        )
    seq = F.expr(t.seq_expr).cast("long")
    # deterministic generation-1 revision of the fixture load:
    # '1-' + md5(_id ':' seq) — CouchDB doc shape (docs carry _rev),
    # reproducible in any engine with md5 (the oracle recomputes it)
    rev = F.concat(
        F.lit("1-"),
        F.md5(F.concat_ws(":", doc_id_col(table), seq.cast("string"))),
    )
    cols: list[Column] = [
        doc_id_col(table).alias("_id"),
        rev.alias("_rev"),
        (F.coalesce(F.col("_deleted"), F.lit(False)) if have_deleted
         else F.lit(False)).alias("_deleted"),
        seq.alias("seq"),
    ]
    for f_ in df.schema.fields:
        if f_.name in ("_id", "_rev", "_deleted", "seq"):
            continue
        c = F.col(f_.name)
        if doc_space:
            if f_.name in t.timestamp_cols:
                c = F.date_format(c, ISO_FMT)
            elif f_.dataType.simpleString() in ("int", "bigint", "smallint",
                                                "tinyint", "float"):
                c = c.cast("double")
            elif f_.dataType.simpleString() == "array<float>":
                c = c.cast("array<double>")
        cols.append(c.alias(f_.name))
    return df.select(*cols)


def docs_df(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    doc_space: bool = True,
) -> DataFrame:
    """The full table as documents (see :func:`as_docs`)."""
    return as_docs(load_table(spark, sf_dir, table), table,
                   doc_space=doc_space)


def doc_json_frame(d: DataFrame, *, conflicts: bool = False,
                   attachments: bool = True,
                   unique_id: bool = False) -> DataFrame:
    """Docs DataFrame → ``(_id, doc_json)`` for include_docs joins.

    ``conflicts=True`` (J3; upstream #queryView forwards the flag into
    the doc fetch) keeps a ``_conflicts ARRAY<STRING>`` column in the
    JSON when the docs frame carries one and it is non-empty; CouchDB
    omits the member entirely for conflict-free docs, which matches
    ``to_json``'s null-dropping.  Engine-internal columns
    (``_deleted``, ``seq``) never reach the doc body.

    ``attachments`` (J3 remainder; raw doc sources): CouchDB stores
    attachment bodies in the doc and include_docs returns STUBS
    (``{stub: true, length, digest}``, data dropped) unless
    ``attachments=true`` inlines the base64 data.  Applied only to
    bodies that actually contain ``_attachments`` (JVM contains()
    prefilter; everything else passes through untouched).

    ``unique_id=True`` (DocTable.pk_unique): the caller vouches that
    ``_id`` is unique, so the duplicate-id collapse — a groupBy(_id)
    exchange over doc bodies — is dropped from the plan entirely.
    Raw sources ignore the flag (multi-revision rows share an _id by
    design).
    """
    if "doc_json" in d.columns:
        # raw CouchDB-style source: the stored body is authoritative
        # and returned verbatim (users keep _id/_rev inside it, the
        # shape every CouchDB export has) — modulo attachment stubbing
        out = _one_doc_per_id(d.select("_id", "doc_json"))
        if not attachments:
            out = out.withColumn(
                "doc_json",
                F.when(
                    F.col("doc_json").contains('"_attachments"'),
                    _stub_attachments_udf(F.col("doc_json")),
                ).otherwise(F.col("doc_json")),
            )
        return out
    drop = {"_deleted", "seq"}  # _id stays in the body (CouchDB docs carry it)
    if not conflicts:
        drop.add("_conflicts")
    body = [c for c in d.columns if c not in drop]
    cols = []
    for c in body:
        col = F.col(c)
        if c == "_conflicts":
            col = F.when(F.size(col) > 0, col)
        cols.append(col.alias(c))
    out = d.select(
        F.col("_id"),
        F.to_json(F.struct(*cols)).alias("doc_json"),
    )
    return out if unique_id else _one_doc_per_id(out)


def stub_attachments(doc_json: str) -> str:
    """One doc body → same body with attachment data replaced by
    CouchDB stubs: ``data`` dropped; ``stub: true``, decoded
    ``length`` and ``digest`` (``'md5-' + base64(md5(bytes))``, the
    CouchDB digest format) added.  Non-dict members and undecodable
    data are left untouched (robustness over strictness)."""
    import base64
    import hashlib

    try:
        doc = json.loads(doc_json)
    except (TypeError, ValueError):
        return doc_json
    atts = doc.get("_attachments")
    if not isinstance(atts, dict):
        return doc_json
    for name, att in atts.items():
        if not isinstance(att, dict) or "data" not in att:
            continue
        try:
            # strip whitespace first: real CouchDB exports line-wrap
            # base64, which strict validation would reject
            b64 = "".join(str(att["data"]).split())
            raw = base64.b64decode(b64, validate=True)
        except (TypeError, ValueError):
            continue  # undecodable: leave the attachment untouched
        new = {k: v for k, v in att.items() if k != "data"}
        new["length"] = len(raw)
        new["digest"] = "md5-" + base64.b64encode(
            hashlib.md5(raw).digest()
        ).decode("ascii")
        new["stub"] = True
        atts[name] = new
    return json.dumps(doc, separators=(",", ":"), ensure_ascii=False)


def _stub_attachments_udf(col: Column) -> Column:
    """Arrow-batched stubbing — runs only on rows the JVM prefilter
    says contain ``_attachments``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _stub(s):
        return s.map(stub_attachments)

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf cannot resolve — attach real type objects instead
    _stub.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_stub, "string")(col)


def _one_doc_per_id(d: DataFrame) -> DataFrame:
    """Collapse duplicate ``_id``s on the doc-fetch side.

    ``_id`` is unique in the CouchDB doc model, but a source table may
    violate the assumption (the driver's synthetic lineitem duplicates
    ~20% of its PK pairs).  Without this, an ``include_docs`` join
    fans out one view row per duplicate body — ``limit=3`` returning
    4 rows.  Deterministic pick: lexicographic max body.  The
    aggregation partial-combines map-side and shares its hash
    partitioning with the join that always follows, so no extra
    exchange survives in the executed plan."""
    return d.groupBy("_id").agg(F.max("doc_json").alias("doc_json"))


def doc_records(pdf, table) -> list[dict]:
    """Arrow batch (pandas) of a docs DataFrame → list of doc dicts for the
    Python map path.  Converts numpy scalars to Python and parses declared
    JSON columns into nested objects (FIXTURES.md: events.props).

    ``table`` may be a name or a DocTable.  Executor-side callers MUST
    pass the DocTable itself: user-registered tables exist only in the
    driver's registry, so a name lookup would KeyError on workers."""
    t = table if isinstance(table, DocTable) else TABLES[table]
    records = pdf.to_dict("records")
    if t.raw_json:
        # raw source: the map fn sees the PARSED body, with the row's
        # _id/_rev/_deleted metadata authoritative (CouchDB map input)
        out = []
        for r in records:
            body = json.loads(r["doc_json"]) if r.get("doc_json") else {}
            body["_id"] = r["_id"]
            if r.get("_rev") is not None:
                body["_rev"] = r["_rev"]
            if r.get("_deleted"):
                body["_deleted"] = True
            out.append(body)
        return out
    jc = t.json_cols
    ac = t.array_cols
    for r in records:
        for k, v in list(r.items()):
            if k in jc and isinstance(v, str):
                r[k] = json.loads(v)
            elif k in ac and v is not None:
                r[k] = [float(x) for x in v]
            elif hasattr(v, "item"):  # numpy scalar
                r[k] = v.item()
    return records
