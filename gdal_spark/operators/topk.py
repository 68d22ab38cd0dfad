"""Distributed per-group top-k as one Catalyst window plan.

`row_number()` over `Window.partitionBy(group).orderBy(order..., payload...)`
filtered to `rank <= k`. Catalyst's InferWindowGroupLimit rewrites that
filter into a `WindowGroupLimit`, which the planner splits in two:

  Partial — before the shuffle, each map task keeps at most k rows per
  group (a per-group heap over its locally sorted rows), so the
  exchange carries O(map tasks * k) rows per group, never a group's
  whole candidate set;

  Final — after the hash shuffle on the group, the same limit over the
  merged partial winners, then the Window assigns the ranks.

Spark inserts the partial limit only for
`k <= spark.sql.optimizer.windowGroupLimitThreshold` (1000 by default);
above it the plan is a plain window sort with no map-side reduction.

Ordering: ascending on the order columns (negate a column for
descending), then on the payload columns, so exact ties still resolve
to one deterministic ranking. Everything runs JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def topk_per_group(
    cand: DataFrame,
    group_cols: list[str],
    order_cols: list[Column | str],
    payload_cols: list[str],
    k: int,
) -> DataFrame:
    """Return top-k rows per group: group_cols + payload_cols + rank.

    order_cols: ascending sort keys (negate for descending). Payload
    columns that order_cols names as strings are not sorted on twice.
    """
    named = {c for c in order_cols if isinstance(c, str)}
    ties = [p for p in payload_cols if p not in named]
    w = Window.partitionBy(*group_cols).orderBy(*order_cols, *ties)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*group_cols, *payload_cols, "rank")
    )
