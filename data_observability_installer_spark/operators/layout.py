"""Storage-layout maintenance operators: Z-order clustering and
small-file compaction.

At 100 TB the dominant query cost is how much of the table a scan can
SKIP, and skipping is a property of the physical layout, not the query:
parquet row-group min/max statistics (and file-level partition pruning)
only help when rows with similar key values are physically adjacent.
Two maintenance passes keep them that way:

- :func:`zorder_by` interleaves the bits of several columns' rank
  positions into one integer and range-partitions + sorts on it, so a
  file is "close" in EVERY clustered dimension at once — the classic
  multi-dimensional clustering curve (Morton order; the technique
  behind Delta Lake's OPTIMIZE ZORDER BY, re-expressed with plain
  DataFrame ops). A 2-d predicate like ``a BETWEEN .. AND b BETWEEN ..``
  then prunes most files on footer stats alone, where a lexicographic
  sort on (a, b) only prunes on ``a``.
- :func:`compact_plan` / :func:`compact` rewrite a directory of many
  small files (streaming sinks, per-batch appends) into
  ``ceil(bytes / target)`` right-sized files. Small files are a real
  100 TB failure mode: scan tasks, footer reads, and driver listing all
  scale with file COUNT, not byte size.

Both are pure DataFrame/IO plumbing — one range shuffle each, no UDFs.
The z-value itself is exact integer math, so the DuckDB oracle
(`zorder_locality_lineitem`) value-checks the interleave and the
bucket statistics cross-engine.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _rank_expr_sql(col: str, lo: str, hi: str, bits: int) -> str:
    """SQL text scaling ``col`` into a ``bits``-wide integer rank via
    the broadcast (lo, hi) bounds: floor((x - lo) / (hi - lo) * (2^b - 1))
    clamped to [0, 2^b - 1]. Integer result — bit-identical on any
    engine given identical bounds."""
    n = (1 << bits) - 1
    scaled = f"floor((CAST({col} AS DOUBLE) - {lo}) / nullif(({hi}) - ({lo}), 0.0) * {n}.0)"
    return f"CAST(least(greatest(coalesce({scaled}, 0), 0), {n}) AS BIGINT)"


def _interleave_sql(ranks: list[str], bits: int) -> str:
    """Morton interleave: bit i of rank j lands at position
    i * n_cols + j. Pure shifts/masks/adds — exact in any engine."""
    ncols = len(ranks)
    terms = []
    for j, r in enumerate(ranks):
        for i in range(bits):
            # ((r >> i) & 1) << (i * ncols + j)
            terms.append(f"(((({r}) >> {i}) & 1) << {i * ncols + j})")
    return " + ".join(terms)


def zvalue_expr(
    bounds: dict[str, tuple[float, float]], bits: int = 8
) -> "F.Column":
    """Z-value column from per-column (min, max) bounds (metadata-sized
    — collect them once from the table's own stats or a profile; they
    need not be exact, only stable). One parsed expression."""
    ranks = [
        _rank_expr_sql(c, repr(float(lo)), repr(float(hi)), bits)
        for c, (lo, hi) in bounds.items()
    ]
    return F.expr(_interleave_sql(ranks, bits))


# z-value prefix width of the file-boundary histogram: at most 2^16
# (prefix, count) rows reach the driver, whatever the table size
_ZORDER_HIST_BITS = 16


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    n_files: int | None = None,
) -> DataFrame:
    """Return ``df`` re-clustered on the Morton curve of ``cols``:
    range-partition on the z-value (so each output file owns a compact
    curve segment) and sort within partitions (so row groups inside a
    file are compact too). Write the result with a plain
    ``.write.parquet`` and every ``cols`` dimension prunes on footer
    stats. Bounds come from one metadata-sized min/max pass.

    The file boundaries are a function of the data only: one histogram
    pass over the z-value prefixes gives exact equal-count cut points,
    and each row is routed to its segment's partition by a hash key
    chosen to land there. (``repartitionByRange`` samples with a seed
    derived from the RDD id, so its boundaries — and which rows share a
    file — moved with how many RDDs the session had created before.)"""
    row = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
    ).head()
    bounds = {
        c: (
            row[f"lo_{c}"] if row[f"lo_{c}"] is not None else 0.0,
            row[f"hi_{c}"] if row[f"hi_{c}"] is not None else 1.0,
        )
        for c in cols
    }
    z = df.withColumn("_z", zvalue_expr(bounds, bits))
    spark = df.sparkSession
    parts = n_files or spark.sparkContext.defaultParallelism
    prefix = F.shiftright("_z", max(0, bits * len(cols) - _ZORDER_HIST_BITS))
    hist = sorted(
        (r[0], r[1]) for r in z.groupBy(prefix.alias("p")).count().collect()
    )
    # cut i = the prefix where the running count first reaches i/parts
    # of the rows; file i then holds the prefixes in (cut[i-1], cut[i]]
    total, run, cuts = sum(ct for _, ct in hist), 0, []
    for p, ct in hist:
        run += ct
        while len(cuts) < parts - 1 and run * parts >= (len(cuts) + 1) * total:
            cuts.append(p)
    # the smallest id whose hash partition (pmod(hash(id), parts), the
    # rule repartition(parts, col) applies) is i routes segment i to
    # partition i — one key per partition, no collisions
    keys = dict(
        spark.range(64 * parts)
        .groupBy(F.expr(f"pmod(hash(id), {parts})"))
        .agg(F.min("id"))
        .collect()
    )
    seg = F.size(F.filter(F.array(*[F.lit(c) for c in cuts]), lambda c: c < prefix))
    route = F.element_at(
        F.array(*[F.lit(keys[i]).cast("long") for i in range(parts)]), seg + 1
    )
    return (
        z.withColumn("_k", route)
        .repartition(parts, "_k")
        .sortWithinPartitions("_z")
        .drop("_z", "_k")
    )


def zorder_locality(
    df: DataFrame,
    bounds: dict[str, tuple[float, float]],
    bits: int = 8,
    prefix_bits: int = 6,
) -> DataFrame:
    """Clustering-quality report: bucket rows by the top ``prefix_bits``
    of their z-value (a bucket ~ one output file's curve segment) and
    report each bucket's row count and per-dimension min/max spread.
    Narrow per-bucket ranges = effective footer-stat pruning. Exact
    integer + min/max math — fully value-checkable cross-engine."""
    cols = list(bounds)
    total_bits = bits * len(cols)
    z = df.withColumn("_z", zvalue_expr(bounds, bits))
    aggs = [F.count(F.lit(1)).alias("row_ct")]
    for c in cols:
        aggs.append(F.min(c).cast("double").alias(f"min_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"max_{c}"))
    return (
        z.groupBy(
            F.shiftright(F.col("_z"), total_bits - prefix_bits).alias("z_bucket")
        )
        .agg(*aggs)
        .orderBy("z_bucket")
    )


def zorder_locality_sql(
    table: str,
    bounds: dict[str, tuple[float, float]],
    bits: int = 8,
    prefix_bits: int = 6,
) -> str:
    cols = list(bounds)
    ranks = [
        _rank_expr_sql(c, repr(float(lo)), repr(float(hi)), bits)
        for c, (lo, hi) in bounds.items()
    ]
    zv = _interleave_sql(ranks, bits)
    total_bits = bits * len(cols)
    stats = ", ".join(
        f"CAST(min({c}) AS DOUBLE) AS min_{c}, CAST(max({c}) AS DOUBLE) AS max_{c}"
        for c in cols
    )
    return f"""
    SELECT (({zv}) >> {total_bits - prefix_bits}) AS z_bucket,
           count(*) AS row_ct, {stats}
    FROM {table}
    GROUP BY z_bucket ORDER BY z_bucket
    """


def compact_plan(spark: SparkSession, path: str, target_mb: int = 128) -> dict:
    """Inspect a parquet directory and size the compaction: returns
    {files, bytes, target_files}. Listing is driver-side metadata (file
    statuses only — at warehouse scale this is the table manifest).

    Listing goes through the Hadoop FileSystem API resolved from the
    path's own scheme, so ``hdfs://`` / ``s3a://`` tables are sized the
    same way local ones are — a driver-side ``os.walk`` would silently
    report 0 files for any remote store and the compaction would then
    rewrite the whole table into a single file."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    total = 0
    files = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            files += 1
            total += st.getLen()
    target = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    return {"files": files, "bytes": total, "target_files": target}


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite ``src`` (many small parquet files) as ``target_files``
    right-sized files at ``dst``. With ``sort_cols`` the rewrite also
    re-clusters (repartitionByRange + sortWithinPartitions) so the
    compaction doubles as a stats-friendly re-sort; without, a plain
    coalesce-style repartition. Returns the plan dict it executed."""
    plan = compact_plan(spark, src, target_mb)
    df = spark.read.parquet(src)
    n = plan["target_files"]
    if sort_cols:
        out = df.repartitionByRange(n, *[F.col(c) for c in sort_cols]).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(dst)
    return plan


def scan_metrics(df: DataFrame) -> dict:
    """Execute ``df`` and return the summed metrics of its LEAF scan
    nodes: {"rows": numOutputRows, "files": numFiles, "bytes":
    filesSize (bytes of files selected at planning)}. ``rows`` is what
    the parquet reader actually PRODUCED — after footer-stat row-group
    skipping — so rows << table-rows is the quantitative proof that a
    layout (z-order clustering, payload-column pruning) made the
    reader skip physical data, not just that the filter worked. Use
    against a filtered read of a written table:

        scan_metrics(spark.read.parquet(p).filter(...))

    Execution goes through ``queryExecution().toRdd().count()`` — the
    SAME QueryExecution whose plan metrics are read, but a JVM-side
    count, so driver memory stays O(1) however many rows survive the
    filter (a ``collect()`` here would pull the whole result through
    py4j just to discard it). Under AQE the top node is
    AdaptiveSparkPlanExec — itself a leaf with no scan metrics — so
    the final physical plan is unwrapped before collecting leaves."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    out = {"rows": 0, "files": 0, "bytes": 0}
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        # AQE wraps the executed tree in leaf wrappers: the top-level
        # AdaptiveSparkPlanExec and, inside it, *QueryStageExec nodes
        # (shuffle/broadcast/result stages) — all LeafExecNodes whose
        # real subtree hangs off executedPlan()/plan(). Unwrap them so
        # the actual FileSourceScanExec leaves are reached; without
        # this, any plan with an exchange reports all-zero metrics.
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        leaves = node.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            lname = leaf.getClass().getSimpleName()
            if lname == "AdaptiveSparkPlanExec" or lname.endswith("QueryStageExec"):
                stack.append(leaf)
                continue
            metrics = leaf.metrics()
            for key, dst in (
                ("numOutputRows", "rows"),
                ("numFiles", "files"),
                ("filesSize", "bytes"),
            ):
                if metrics.contains(key):
                    out[dst] += metrics.apply(key).value()
    return out
