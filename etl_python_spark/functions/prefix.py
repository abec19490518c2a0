"""Two-phase prefix sums: the engine's one kernel for a cumulative sum,
a position (ROW_NUMBER) or an NTILE over a global or per-group order.

A plain ``SUM() OVER (ORDER BY ...)`` (or ``PARTITION BY g ORDER BY
...``) sorts the whole relation (or a whole group) in ONE task.  Here
the sort is split in two phases:

1. range-repartition on ``(by, order)``, tag each row with its
   partition id ``_pid`` and pin the layout with ``localCheckpoint``
   (range boundaries are sampled per job, so the count job and the
   consume job must read one layout);
2. one local ``ROWS UNBOUNDED PRECEDING`` window per ``(by, _pid)`` —
   parallel across partitions;
3. the per-``(by, _pid)`` totals (a partitions × groups driver list —
   bounded metadata) become exclusive offsets by a driver-side scan,
   broadcast-joined back: prefix = offset + local prefix.

Range partition ``i``'s keys precede partition ``i + 1``'s, so the
result equals the single window for any partition count.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def range_parts(df: DataFrame, hi: int = 1024) -> int:
    """Partition count for :func:`prefix_sums` (a constant 8/16 tuned at
    sf0.1 is a fixed parallelism bound at 100 TB).  Tracks the
    session's core count (``defaultParallelism`` — ``SPARK_GRAFT_CPUS``
    locally, the cluster's total cores at scale) with a floor of 8 so
    the kernel stays parallel on tiny sessions and a cap that bounds
    the per-partition total rows it collects and broadcasts (metadata,
    not data; the offsets make the result partition-count-independent
    by construction)."""
    return max(8, min(hi, df.sparkSession.sparkContext.defaultParallelism))


def prefix_sums(
    df: DataFrame,
    order: Sequence[Column | str],
    sums: Mapping[str, Column],
    by: Sequence[str] = (),
) -> tuple[DataFrame, dict[tuple, dict[str, object]]]:
    """Inclusive prefix sums of ``sums`` (output name -> non-null
    Column over ``df``) along ``order`` within each ``by`` group, as
    the two-phase plan in the module docstring.

    Returns ``(out, totals)``.  ``out`` carries ``df``'s columns,
    ``_pid`` (the row's range partition), one column per ``sums`` name
    holding ``SUM(c) OVER (PARTITION BY by ORDER BY order ROWS
    UNBOUNDED PRECEDING)``, and ``<name>_total`` holding the group's total.
    ``totals`` maps each group's ``by`` values (a tuple; ``()`` when
    ``by`` is empty, present even for an empty input) to
    ``{name: total}`` for callers that need the totals as literals.

    ``sums={"_pos": F.lit(1)}`` is the 1-based position: under a ROWS
    frame it equals ``ROW_NUMBER()``, as a ``long``.  Rows tied on
    ``order`` take their positions in an arbitrary order, as with the
    single window; callers whose result must not depend on it break
    the ties in ``order`` or use a tie-order-invariant statistic.
    """
    keys = [*by, "_pid"]
    pinned = (
        df.repartitionByRange(range_parts(df), *[F.asc(b) for b in by], *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    parts = pinned.groupBy(*keys).agg(
        *[F.sum(c).alias(n) for n, c in sums.items()]
    )
    # partition ids ascend with the order inside every group, so one
    # scan in _pid order yields each group's exclusive offsets
    totals: dict[tuple, dict[str, object]] = (
        {} if by else {(): dict.fromkeys(sums, 0)}
    )
    scanned = []
    for r in sorted(parts.collect(), key=lambda r: r["_pid"]):
        g = tuple(r[b] for b in by)
        acc = totals.setdefault(g, dict.fromkeys(sums, 0))
        scanned.append((g, r["_pid"], [acc[n] for n in sums]))
        for n in sums:
            acc[n] += r[n]
    rows = [
        (*g, pid, *offs, *totals[g].values()) for g, pid, offs in scanned
    ]
    typ = parts.schema
    off = df.sparkSession.createDataFrame(
        rows,
        StructType(
            # by keys are renamed so the join can be null-safe: a null
            # group is a group, as in the single window
            [StructField(f"_k{i}", typ[b].dataType) for i, b in enumerate(by)]
            + [StructField("_opid", IntegerType())]
            + [StructField(f"_o_{n}", typ[n].dataType) for n in sums]
            + [StructField(f"{n}_total", typ[n].dataType) for n in sums]
        ),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = pinned.select(
        *df.columns,
        "_pid",
        *[F.sum(c).over(w).alias(f"_l_{n}") for n, c in sums.items()],
    )
    on = [F.col("_pid") == F.col("_opid")] + [
        F.col(b).eqNullSafe(F.col(f"_k{i}")) for i, b in enumerate(by)
    ]
    out = local.join(F.broadcast(off), on).select(
        *df.columns,
        "_pid",
        *[(F.col(f"_l_{n}") + F.col(f"_o_{n}")).alias(n) for n in sums],
        *[f"{n}_total" for n in sums],
    )
    return out, totals


def ntile(pos: Column, n: Column, k: int) -> Column:
    """NTILE(k) bucket (1..k, ``int``) of the 1-based position ``pos``
    among ``n`` rows, the engines' semantics: the first ``n % k``
    buckets take ``n // k + 1`` rows, the rest ``n // k``."""

    def div(a: Column, b: Column) -> Column:
        return F.call_function("div", a, b)

    q, rem = div(n, F.lit(k)), n % k
    thresh = rem * (q + 1)
    return (
        F.when(pos <= thresh, div(pos - 1, q + 1)).otherwise(
            rem + div(pos - 1 - thresh, F.greatest(q, F.lit(1)))
        )
        + 1
    ).cast("int")
