"""Schema-first readers for the driver fixture tables.

The reference parses inputs with implicit, by-convention schemas
(``line.strip().split(',')`` at reference HWK_1/G029HW1.py:145 and
``int(s)`` per stream record at HWK_3/G029HW3.py:44-46). Our engine
declares explicit schemas per source (SURVEY.md §1.3): deterministic DDL,
no ``inferSchema`` in production paths. Parquet scans get column pruning
and predicate pushdown from Catalyst for free once schemas are explicit.

Derived sources
---------------
``points_from_lineitem`` — the reference's 2-D point-set inputs
(HWK_1 uber CSVs / TestN15) don't exist in the driver fixtures, so the
outlier/k-center operators take a deterministic projection of ``lineitem``
as their point cloud. The arithmetic is pure IEEE-754 double ops in a fixed
order, so DuckDB produces the bit-identical point set for oracle checks.

``stream_from_events`` — the reference's integer stream (HWK_3 socket) is
replayed deterministically as ``events.user_id`` ordered by ``(ts,
event_id)``: a realistic skewed item stream with a total arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Explicit DDL schemas for every fixture table (TESTDATA.md).
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp"
    ),
    # ts unit varies by fixture generation: TIMESTAMP(NANOS) needs the
    # nanosAsLong read + exact ns→µs integer division (Spark has no
    # nanosecond timestamp); TIMESTAMP(MICROS) is read natively. load_table
    # inspects the parquet footer and picks the right path — see
    # _events_ts_is_nanos.
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


# Memoized parquet-footer probe per events file: unit drift between fixture
# generations (ns in earlier rounds, µs now) must not silently corrupt
# timestamps, so the footer — not an assumption — decides the read path.
# Keyed by (path, mtime) so a fixture regenerated mid-session re-probes.
_EVENTS_TS_IS_NANOS: dict[tuple[str, float], bool] = {}


def _events_ts_is_nanos(sf_dir: str) -> bool:
    import os

    path = f"{sf_dir}/events.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    cached = _EVENTS_TS_IS_NANOS.get((path, mtime))
    if cached is not None:
        return cached

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        probe = os.path.join(path, parts[0])
    ts_type = pq.read_schema(probe).field("ts").type
    unit = getattr(ts_type, "unit", None)
    if unit not in ("ns", "us", "ms", "s"):
        raise TypeError(f"events.ts is not a parquet timestamp (footer type: {ts_type})")
    if unit in ("ms", "s"):
        raise TypeError(f"events.ts unit {unit!r} unsupported; expected ns or us")
    is_nanos = unit == "ns"
    _EVENTS_TS_IS_NANOS[(path, mtime)] = is_nanos
    return is_nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its declared schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    if name == "events" and _events_ts_is_nanos(sf_dir):
        # TIMESTAMP(NANOS): Spark has no ns timestamp, so read the raw int64
        # (nanosAsLong) and integer-divide — epoch-nanos (~1.8e18) exceed
        # double's 2^53 mantissa, so `(ts / 1000).cast(...)` would round the
        # microsecond off by ±1 on ~25% of rows vs DuckDB's exact ns→µs cast.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = TABLE_SCHEMAS["events"].replace("ts timestamp", "ts bigint")
        df = spark.read.schema(schema).parquet(f"{sf_dir}/events.parquet")
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    return df


# (applicationId, analyzed-plan semanticHash) -> whether the scan needs a
# fan-out repartition. Memoized per semantically equal plan so repeat
# registry/bench invocations skip the driver-side file listing.
_FAN_OUT_MEMO: dict[tuple[str, int], bool] = {}
_FAN_OUT_MEMO_MAX = 512


def _parse_byte_size(v: str) -> int:
    """JVM byte-string → bytes ('128MB', '4m', '134217728b', '1g')."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(v), re.IGNORECASE)
    if not m:
        return int(v)
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50}[m.group(2).lower()]
    return int(m.group(1)) * mult


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many partitions this plan's file scan yields, via the
    PUBLIC ``inputFiles()`` API + Spark's own split math — no ``df.rdd``
    conversion (round-7 VERDICT item 6: the RDD probe forced a
    logical→RDD translation per call).

    Mirrors ``FilePartition.maxSplitBytes``: splits pack to
    ``min(maxPartitionBytes, max(openCostInBytes, total/parallelism))``
    with each file costing ``openCostInBytes`` extra. Returns None for
    non-file sources (in-memory frames already span defaultParallelism);
    remote/unstatable files fall back to one-split-per-file — at cluster
    scale file counts alone exceed any core count, so the fallback only
    matters for the small-file case it handles conservatively.
    """
    import math
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sess = df.sparkSession
    try:
        max_part = _parse_byte_size(
            sess.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        open_cost = _parse_byte_size(
            sess.conf.get("spark.sql.files.openCostInBytes", "4MB")
        )
    except Exception:
        max_part, open_cost = 128 << 20, 4 << 20
    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return len(files)
        try:
            sizes.append(os.path.getsize(unquote(parsed.path)))
        except OSError:
            return len(files)
    parallelism = max(1, df.sparkSession.sparkContext.defaultParallelism)
    total = sum(sizes) + open_cost * len(files)
    max_split = min(max_part, max(open_cost, math.ceil(total / parallelism)))
    return max(1, math.ceil(total / max_split))


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy map work.

    A small compressed parquet file scans as a handful of partitions (one,
    for the sub-128MB fixture files), serializing every downstream
    explode/hash/UDF onto a single core even on a 32-core executor. For
    operators whose per-row work dwarfs the scan (shingling, MinHash,
    SimHash bit explosion, embedding scoring) a round-robin repartition of
    the *compressed* rows is cheap and buys full parallelism. On a real
    100 TB input the scan already yields thousands of splits, making this a
    deliberate no-op — the condition keys off estimated scan parallelism
    (file listing + Spark's split math, see ``_estimated_scan_partitions``),
    not a fixed size heuristic, and involves no logical→RDD conversion.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        key = (sc.applicationId, int(df._jdf.queryExecution().analyzed().semanticHash()))
        need = _FAN_OUT_MEMO.get(key)
    except Exception:  # private-API drift: skip memoization
        key, need = None, None
    if need is None:
        est = _estimated_scan_partitions(df)
        need = est is not None and est < target
        if key is not None:
            if len(_FAN_OUT_MEMO) >= _FAN_OUT_MEMO_MAX:
                _FAN_OUT_MEMO.clear()
            _FAN_OUT_MEMO[key] = need
    return df.repartition(target) if need else df


# SQL fragment shared verbatim with the DuckDB oracles so both engines build
# the identical point cloud (same IEEE double ops, same order).
POINTS_SQL_BODY = (
    "SELECT l_orderkey * 8 + l_linenumber AS point_id, "
    "l_quantity + l_discount AS x, "
    "l_extendedprice / 1000.0 AS y "
    "FROM lineitem"
)


def points_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D point set (point_id, x, y) derived from lineitem.

    Mirrors the reference's point-set input shape (parse at reference
    HWK_1/G029HW1.py:145) with an added ``point_id`` for deterministic
    top-K tie-breaking (FIXTURES.md §1). x spans ~[1, 51), y ~[0.9, 115).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("point_id"),
        (F.col("l_quantity") + F.col("l_discount")).alias("x"),
        (F.col("l_extendedprice") / F.lit(1000.0)).alias("y"),
    )


# Oracle twin: DuckDB total order must be Spark's (µs, event_id) key —
# epoch_ns // 1000 floor-divides the raw parquet ns exactly like Spark's
# `ts div 1000` (tables load above), independent of whether the DuckDB
# build truncates TIMESTAMP_NS at scan (1.0) or preserves it (≥1.1).
STREAM_SQL_BODY = (
    "SELECT row_number() OVER (ORDER BY epoch_ns(ts) // 1000, event_id) - 1 "
    "AS seq, user_id AS item FROM events"
)


def stream_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer item stream (seq, item) replayed from events.

    ``seq`` is the total arrival order (the stream IS its seq ordering —
    FIXTURES.md §2); ``item`` is the skewed ``user_id`` distribution.

    The total order is semantically required, but assigning it does NOT
    need a single task: an unpartitioned ``row_number()`` window makes one
    executor thread hold the whole table — the classic global-sort
    bottleneck at 100× scale. Instead: range-repartition on the order key
    (partition p holds a contiguous key range, p < p+1), sort within
    partitions, then add per-partition start offsets JVM-side — the exact
    ``with_point_ids`` mechanism (one light counting job + broadcast
    join, no second shuffle of the data, no Python row path). Ordering is
    by (µs timestamp, event_id); event_id is unique, so the order is
    total.

    The sorted layout is persisted before id assignment: the range
    partitioner's sample seed folds in the physical RDD id, so two
    *separate* evaluations (the offset-counting job vs the consumer job)
    would draw different bounds and corrupt the ids (reproduced: 10k rows
    → 9,857 distinct seqs). Materializing once pins the partitioning for
    every pass — the same contract RDD ``zipWithIndex`` relies on. At
    scale this is honest cost accounting: a total-order assignment IS a
    sort, and MEMORY_AND_DISK spills rather than re-sorting per consumer.

    The persisted layout is one ``session.shared`` entry per
    (applicationId, sf_dir) — without it every call (bench warm + timed
    passes, repeated registry queries) pinned a fresh copy and executor
    storage grew monotonically — and is rebuilt once ``clearCache``
    dropped it, so ids are never assigned over an unpersisted layout.
    """
    from ..session import shared
    from .points_csv import with_point_ids

    def build():
        n_parts = max(spark.sparkContext.defaultParallelism, 1)
        return (
            load_table(spark, sf_dir, "events")
            .select("ts", "event_id", "user_id")
            .repartitionByRange(n_parts, "ts", "event_id")
            .sortWithinPartitions("ts", "event_id")
        )

    ordered = shared(spark, ("stream_layout", sf_dir), build)
    return with_point_ids(ordered).select(
        F.col("point_id").alias("seq"), F.col("user_id").alias("item")
    )
