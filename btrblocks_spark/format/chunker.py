"""Deterministic chunking — the analog of ``Relation::getRanges``
(reference storage/Relation.cpp:42-69): slice a table into consecutive
``block_size``-row chunks in a stable order.

Scale note (100 TB): a naive ``row_number() OVER (ORDER BY keys)`` is a
single-partition window — a non-starter. We instead compute a *global* index
with per-partition parallelism and DETERMINISTIC range boundaries:

  1. sample the order keys with a fixed hash predicate (no RNG) and cut
     driver-side quantile boundaries — unlike ``repartitionByRange``, whose
     per-job boundary sampling is nondeterministic and therefore forces a
     full-row persist of the shuffled table to keep later jobs consistent;
  2. tag each row with its range id (``_pid``) = count of boundaries below
     its key tuple, as a pure JVM struct-comparison expression (codegens
     inside the scan stage, no Python worker) — a pure function of the key
     columns, so every job recomputes identical tags;
  3. count rows per range (key-columns-only scan, map-side agg) and build
     cumulative offsets on the driver (one tiny array);
  4. hash-exchange on ``_pid`` and assign
     ``index = offsets[_pid] + row_number() OVER (PARTITION BY _pid ORDER
     BY keys) - 1`` — the window's distribution and ordering are exactly
     the exchange's partitioning plus one in-partition sort, so the plan is
     one Exchange, one Sort, one Window, all in the JVM.

Range count: ``with_chunk_id`` indexes a table of ``n`` rows in
``min(max(defaultParallelism, 8), ceil(n / block_size))`` ranges, so no
range is smaller than a chunk on average and a table that fits one chunk
is ONE range. One range needs neither step 1 nor step 3: it has no
boundaries, its offsets are ``[start]`` and its count is the total, so it
runs no job before the exchange (given the row count), and its exchange
moves every row onto a single partition that leaves the window in
``_idx`` order.

Every step is parallel, driver state is O(num_partitions), and the full
rows move exactly once (the single ``_pid`` exchange). Because steps 1-4
are deterministic end-to-end, NO staging persist is needed: downstream
jobs that re-execute the lineage reproduce bit-identical indexes. The
three driver jobs before the exchange read only the (parquet-pruned)
key columns.

Trade-off: ``WindowExec`` holds one whole ``_pid`` range (about
rows / num_partitions) in Spark's spillable row buffer before it emits it,
where the former Python ``mapInArrow`` index pass streamed its rows. In
return no row crosses the JVM↔Python boundary: that pass serialized every
full row through Arrow twice (out and back) and paid the Python worker's
fixed per-task start-up cost on every partition.

Order keys must be non-null and should be unique (ties get an arbitrary
but schema-stable order, same as any ORDER BY on a non-unique key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SAMPLES_PER_PART = 128


def _pid_column(df: DataFrame, order_keys: list[str], bounds: list[tuple]):
    """Range-id column: number of boundary tuples lexicographically below
    the row's key tuple. Pure JVM expression (Spark structs compare
    lexicographically), so it codegens inside the scan stage — no Python
    worker, no Arrow transfer, deterministic across jobs.

    Shape: a BALANCED binary-search WHEN tree, not a chain of P adds — the
    chain evaluated all P comparisons per row (and at cluster-scale
    partition counts its O(P)-deep tree risks a Catalyst stack overflow);
    the balanced tree evaluates log2(P) struct comparisons per row and its
    depth is log P, so it survives a 4000-partition boundary list whether
    codegen'd or interpreted."""
    if not bounds:
        return F.lit(0).cast("long")
    key_types = {f.name: f.dataType for f in df.schema.fields}
    key_struct = F.struct(*[F.col(k) for k in order_keys])

    def bound_struct(b: tuple):
        return F.struct(
            *[F.lit(v).cast(key_types[k]) for k, v in zip(order_keys, b)]
        )

    def search(lo: int, hi: int):
        # rows with exactly `pid` bounds below them get pid; invariant:
        # bounds[lo-1] < key (when lo > 0) and key <= bounds[hi] (when
        # hi < len(bounds)) — converges to pid in [lo, hi]
        if lo == hi:
            return F.lit(lo).cast("long")
        mid = (lo + hi) // 2
        return F.when(
            key_struct > bound_struct(bounds[mid]), search(mid + 1, hi)
        ).otherwise(search(lo, mid))

    return search(0, len(bounds))


def _sample_boundaries(
    df: DataFrame, order_keys: list[str], num_partitions: int, total_rows: int
) -> list[tuple]:
    """Quantile boundaries from a fixed-hash sample (deterministic, no RNG):
    keep rows where hash(keys) % mod == 0, sized for ~_SAMPLES_PER_PART
    samples per target partition; sort on the driver; cut evenly."""
    if total_rows == 0 or num_partitions <= 1:
        return []
    mod = max(1, total_rows // (num_partitions * _SAMPLES_PER_PART))
    sample = (
        df.select(*order_keys)
        .filter(F.pmod(F.hash(*[F.col(k) for k in order_keys]), F.lit(mod)) == 0)
        .collect()
    )
    if not sample:
        return []
    vals = sorted(tuple(r) for r in sample)
    m = len(vals)
    bounds: list[tuple] = []
    for i in range(1, num_partitions):
        b = vals[min(i * m // num_partitions, m - 1)]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def with_global_index(
    df: DataFrame,
    order_keys: list[str],
    num_partitions: int | None = None,
    total_rows: int | None = None,
    bounds: list[tuple] | None = None,
    start: int = 0,
) -> DataFrame:
    """Add a dense global row index ``_idx`` ordered by ``order_keys``,
    counting up from ``start`` (0 for a whole table; compaction indexes a
    rewritten tail after the chunks it keeps).

    Deterministic end-to-end (fixed boundaries + pure-function range tags +
    stable hash exchange), so the result needs NO persist for cross-job
    consistency — re-executions reproduce identical indexes. The count,
    boundary-sample, and per-range-count jobs each scan only the key
    columns (parquet column pruning); full rows move once.

    ``total_rows``: pass a known-exact row count to skip the count job —
    callers that already ran an aggregate over ``df`` (e.g. the writer's
    NDV pass) fold the count into that job and hand it down, saving one
    full pass over the source at scale.

    ``bounds``: pass precomputed range boundaries (tuples over a PREFIX of
    ``order_keys``) to skip the boundary-sample job as well — the writer
    rides ``percentile_approx`` of the first key in its NDV job (round-9,
    guide §1.2: the boundaries only steer partition BALANCE, so any
    deterministic cut list yields identical output; prefix bounds leave
    ties on the later keys in one range, which only skews balance when the
    first key is heavily duplicated — callers fall back to the sample job
    in that case).
    """
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if "_pid" in df.columns:
        # the tagging below adds its own _pid and drops it from the output;
        # a pre-existing _pid would be silently overwritten and lost
        raise ValueError("input already has a '_pid' column; rename it first")
    if "_idx" in df.columns:
        # the window appends _idx to the schema; a pre-existing one would
        # yield DUPLICATE column names and ambiguous-reference errors far
        # downstream (e.g. re-indexing a read-back table that still
        # carries _idx — drop it first)
        raise ValueError(
            "input already has a '_idx' column; drop or rename it "
            "before re-indexing"
        )

    total = df.count() if total_rows is None else int(total_rows)
    if bounds is None:
        bounds = _sample_boundaries(df, order_keys, num_partitions, total)
    else:
        bounds = [tuple(b) for b in bounds if b is not None]
    key_prefix = order_keys[: len(bounds[0])] if bounds else order_keys
    tagged = df.withColumn("_pid", _pid_column(df, key_prefix, bounds))

    if bounds:
        counts = {
            r["_pid"]: r["cnt"]
            for r in tagged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
    else:
        # one range holds every row: its count is the total, no job
        counts = {0: total}
    # dense cumulative offsets over every possible pid 0..len(bounds)
    offsets, acc = [], start
    for pid in range(len(bounds) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    # the array lookup is nullable in Catalyst's typing (an out-of-range
    # index) although every _pid indexes inside it; coalesce restores the
    # non-nullable type the index column has always had
    offset = F.coalesce(
        F.lit(offsets).cast("array<bigint>")[F.col("_pid")], F.lit(0).cast("long")
    )
    ordinal = F.row_number().over(Window.partitionBy("_pid").orderBy(*order_keys))
    out = (
        tagged.repartition(num_partitions if bounds else 1, "_pid")
        .withColumn("_idx", (offset + ordinal - 1).cast("long"))
        .drop("_pid")
    )
    out._btr_total_rows = acc - start
    out._btr_ranges = len(bounds) + 1
    return out


def _thin_bounds(bounds: list[tuple], num_ranges: int) -> list[tuple]:
    """Keep ``num_ranges - 1`` of ``bounds``, evenly spaced: the cuts
    nearest the quantiles ``i / num_ranges`` of the list's own ranges."""
    if num_ranges - 1 >= len(bounds):
        return bounds
    return [bounds[i * (len(bounds) + 1) // num_ranges - 1] for i in range(1, num_ranges)]


def with_chunk_id(
    df: DataFrame,
    order_keys: list[str],
    block_size: int,
    strategy: str = "sequential",
    total_rows: int | None = None,
    bounds: list[tuple] | None = None,
    start: int = 0,
) -> DataFrame:
    """Add chunk id ``_chunk`` = ``_idx // block_size`` (``SplitStrategy``,
    reference storage/Relation.hpp:7, storage/Relation.cpp:42-69); ``start``
    is the first ``_idx`` (see ``with_global_index``).

    ``sequential`` chunks in key order; ``random`` decorrelates chunk
    contents by indexing on a *deterministic* 64-bit hash of the keys
    (the reference shuffles ranges with an RNG — here the permutation is
    a pure function of the keys, so chunk membership is reproducible
    across jobs and engines, which the write pipeline's share-the-staging
    design requires).

    The table is indexed in ``min(max(defaultParallelism, 8), num_chunks)``
    ranges (one when it fits one chunk), keeping that many of ``bounds``
    evenly spaced. ``_btr_ranges`` on the result is the range count: a
    one-range result is a single partition holding every row in ``_idx``
    order."""
    if strategy not in ("random", "sequential"):
        raise ValueError(f"unknown split strategy: {strategy!r}")
    if total_rows is None:
        total_rows = df.count()
    parallelism = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    num_ranges = max(1, min(parallelism, -(-int(total_rows) // block_size)))
    keys = order_keys
    if strategy == "random":
        df = df.withColumn("_rnd", F.xxhash64(*[F.col(k) for k in order_keys]))
        keys, bounds = ["_rnd", *order_keys], None
    elif bounds is not None:
        bounds = _thin_bounds([b for b in bounds if b is not None], num_ranges)
    indexed = with_global_index(
        df, keys, num_partitions=num_ranges, total_rows=total_rows,
        bounds=bounds, start=start,
    )
    out = indexed.withColumn(
        "_chunk", F.floor(F.col("_idx") / F.lit(block_size)).cast("long")
    )
    if strategy == "random":
        out = out.drop("_rnd")
    out._btr_total_rows = indexed._btr_total_rows
    out._btr_ranges = indexed._btr_ranges
    return out
