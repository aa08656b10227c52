"""AggregateOperations — Jet's aggregate algebra as Spark Column expressions.

Reference: hazelcast-jet-core/src/main/java/com/hazelcast/jet/aggregate/
AggregateOperations.java (1897 LoC) and AggregateOperation.java:87-138.

Jet's algebra is (createFn, accumulateFn, combineFn, deductFn, exportFn,
finishFn).  Spark's built-in aggregate expressions already implement the
same partial/merge/final split (combineFn ≡ merge, finishFn ≡ eval), so
every factory here returns an *unaliased pyspark Column*; callers alias it
(`.alias("sum_qty")`) and pass it to `groupBy(...).agg(...)` or
`df.agg(...)`.  `deductFn` (inverse combine, a sliding-window perf trick,
SlidingWindowP.java:393-440) has no Spark analog and none is needed —
Spark buckets rows into the windows they belong to and aggregates each.

Composition (Jet's `mapping`/`filtering`/`flatMapping`,
AggregateOperations.java:605-707) is expression composition here:
``summing(F.col("x") * 2)`` ≡ ``mapping(x -> 2x, summingLong())``, and
:func:`filtering` wraps the input in ``CASE WHEN`` (aggregates skip nulls).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- basic numeric ops (AggregateOperations.java:94-237,364-471) ---------

def counting() -> Column:
    """counting() — AggregateOperations.java:94."""
    return F.count(F.lit(1))


def summing(c: str | Column) -> Column:
    """summingLong/summingDouble — AggregateOperations.java:126,158."""
    return F.sum(_col(c))


def averaging(c: str | Column) -> Column:
    """averagingLong/averagingDouble — AggregateOperations.java:364,411."""
    return F.avg(_col(c))


def min_of(c: str | Column) -> Column:
    return F.min(_col(c))


def max_of(c: str | Column) -> Column:
    return F.max(_col(c))


def min_by(value: str | Column, ordering: str | Column) -> Column:
    """minBy(comparator) — AggregateOperations.java:200."""
    return F.min_by(_col(value), _col(ordering))


def max_by(value: str | Column, ordering: str | Column) -> Column:
    """maxBy(comparator) — AggregateOperations.java:237."""
    return F.max_by(_col(value), _col(ordering))


def top_n(n: int, c: str | Column) -> Column:
    """topN(n, comparator) — AggregateOperations.java:279.

    Returns the n largest values as a descending array.  For "top-n rows"
    prefer a window ``row_number() <= n`` (see operators.joins.top_n_rows).
    """
    return F.slice(F.sort_array(F.collect_list(_col(c)), asc=False), 1, n)


def bottom_n(n: int, c: str | Column) -> Column:
    """bottomN — AggregateOperations.java:333."""
    return F.slice(F.sort_array(F.collect_list(_col(c)), asc=True), 1, n)


def linear_trend(x: str | Column, y: str | Column) -> Column:
    """linearTrend(xFn, yFn) — AggregateOperations.java:471 (Welford
    accumulator, accumulator/LinTrendAccumulator.java) ≡ regression slope."""
    return F.regr_slope(_col(y), _col(x))


# --- collection-building ops (AggregateOperations.java:500-947,1286) ------

def concatenating(c: str | Column, delimiter: str = "") -> Column:
    """concatenating([delimiter]) — AggregateOperations.java:500-546.

    NOTE: input order is partition order (nondeterministic under shuffle),
    exactly like Jet's nondeterministic accumulation order.  For a
    deterministic result use :func:`concatenating_sorted`.
    """
    return F.concat_ws(delimiter, F.collect_list(_col(c)))


def concatenating_sorted(c: str | Column, delimiter: str = "") -> Column:
    """Deterministic variant: sorts collected values before concatenating."""
    return F.concat_ws(delimiter, F.sort_array(F.collect_list(_col(c))))


def to_list(c: str | Column) -> Column:
    """toList — AggregateOperations.java:784 (order nondeterministic)."""
    return F.collect_list(_col(c))


def to_set(c: str | Column) -> Column:
    """toSet — AggregateOperations.java:804."""
    return F.collect_set(_col(c))


def sorting(c: str | Column, asc: bool = True) -> Column:
    """sorting(comparator) — AggregateOperations.java:1286."""
    return F.sort_array(F.collect_list(_col(c)), asc=asc)


def to_map(key: str | Column, value: str | Column) -> Column:
    """toMap(keyFn, valFn) — AggregateOperations.java:844.  A duplicate
    key raises under Spark's default ``spark.sql.mapKeyDedupPolicy``
    (EXCEPTION), as Jet's no-merge variant throws; under LAST_WIN it
    keeps an arbitrary value — pre-aggregate per key for deterministic
    results."""
    return F.map_from_entries(F.collect_list(F.struct(_col(key), _col(value))))


def to_map_sorted(key: str | Column, value: str | Column) -> Column:
    """Deterministic toMap: entries sorted by key, so ``to_json`` of the
    result is stable across partitionings (the gate/serialization form)."""
    return F.map_from_entries(
        F.sort_array(F.collect_list(F.struct(_col(key), _col(value))))
    )


def pick_any(c: str | Column) -> Column:
    """pickAny() — AggregateOperations.java:1259."""
    return F.any_value(_col(c))


# --- composition (AggregateOperations.java:605-707,1337) ------------------

def filtering(cond: Column, c: str | Column) -> Column:
    """filtering(predicate, downstream) — AggregateOperations.java:653.

    Returns the input expression nulled-out where ``cond`` is false; pass
    the result into any aggregate factory (aggregates ignore nulls).
    ``counting`` over a filtered input: ``F.count(filtering(cond, lit(1)))``.
    """
    return F.when(cond, _col(c))


def reducing(zero, c: str | Column, merge_fn) -> Column:
    """reducing(emptyAcc, toAcc, combine, deduct) — AggregateOperations.java:1209.

    Implemented with the higher-order ``F.aggregate`` over a collected
    array: a slow path, same as Jet's arbitrary-lambda reduce (and like
    it, the fold order is partition order — use a commutative+associative
    merge_fn for deterministic results).  merge_fn takes (acc Column,
    item Column) -> Column; ``zero`` may be a value or a typed Column.
    """
    z = zero if isinstance(zero, Column) else F.lit(zero)
    return F.aggregate(F.collect_list(_col(c)), z, merge_fn)


def all_of(*cols: Column) -> list[Column]:
    """allOf(op0, op1, ...) — AggregateOperations.java:1337.  Spark computes
    several aggregates in one pass natively: pass the list to ``.agg``."""
    return list(cols)


# --- custom aggregate builder (AggregateOperationBuilder.java) ------------

class AggregateOperation:
    """Arbitrary-lambda aggregate — AggregateOperation.java:87-138 /
    AggregateOperationBuilder.java.

    Jet's algebra is (createFn, accumulateFn, combineFn, finishFn); here
    ``accumulate(acc, pdf) -> acc`` folds a whole pandas DataFrame chunk
    (vectorize inside!), and Spark's shuffle delivers each group complete
    to one worker, so no separate combineFn is needed (the partial/merge
    split belongs to Spark's built-in aggregates; a custom op that needs
    it should be re-expressed as expressions — see the factories above).

    Build fluently, mirroring the reference builder::

        op = (AggregateOperation.with_create(lambda: 0)
              .and_accumulate(lambda acc, pdf: acc + int(pdf["x"].sum()))
              .and_finish(lambda acc: acc))
        df = aggregate_custom(src, ["k"], {"total": op}, "k long, total long")
    """

    def __init__(self, create_fn, accumulate_fn, finish_fn=None):
        self.create_fn = create_fn
        self.accumulate_fn = accumulate_fn
        self.finish_fn = finish_fn or (lambda acc: acc)

    @classmethod
    def with_create(cls, create_fn) -> "AggregateOperation":
        return cls(create_fn, None)

    def and_accumulate(self, accumulate_fn) -> "AggregateOperation":
        return AggregateOperation(self.create_fn, accumulate_fn, self.finish_fn)

    def and_finish(self, finish_fn) -> "AggregateOperation":
        return AggregateOperation(self.create_fn, self.accumulate_fn, finish_fn)


def aggregate_custom(df, keys: list[str], ops: dict[str, "AggregateOperation"],
                     schema: str):
    """groupingKey(k).aggregate(customOp) for builder-made operations:
    one ``applyInPandas`` pass computes every op per group.  ``schema``
    lists the key columns followed by one column per op, in dict order."""
    import pandas as pd

    key_cols = list(keys)
    names = list(ops)

    def run(key, pdf):
        vals = []
        for n in names:
            op = ops[n]
            acc = op.create_fn()
            acc = op.accumulate_fn(acc, pdf)
            vals.append(op.finish_fn(acc))
        return pd.DataFrame([list(key) + vals], columns=key_cols + names)

    return df.groupBy(*key_cols).applyInPandas(run, schema)


# --- beyond-reference approximate aggregates (SURVEY §2.7: "free ext") ----

def approx_distinct(c: str | Column, rsd: float = 0.05) -> Column:
    return F.approx_count_distinct(_col(c), rsd)


def percentile(c: str | Column, q: float, accuracy: int = 10000) -> Column:
    return F.percentile_approx(_col(c), q, accuracy)
