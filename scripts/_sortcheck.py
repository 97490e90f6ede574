"""One-off: count Sort nodes in the fold write plan, old guard vs new.

Replicates _maintain_bucketed_state's plan from `merged` onward (dedup →
guard → derive) for the current-state fold (desc derive) and prints the
physical plan's Sort/Exchange/Window node counts for both guard forms.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from leftshove_spark.session import get_spark
from leftshove_spark.views import latest_per_key_window

spark = get_spark(app_name="sortcheck")

df = spark.range(0, 100000).select(
    (F.col("id") % 1000).alias("k"),
    (F.col("id") % 37).cast("timestamp").alias("ts"),
    (F.col("id") % 7).alias("tb"),
    F.col("id").alias("payload"),
    (F.col("id") % 16).cast("int").alias("__bucket"),
)
keys = ["k"]
order_col, tiebreaks = "ts", ["tb"]
vkey = keys + [order_col] + tiebreaks

merged = df.repartition(*[F.col(k) for k in keys]).dropDuplicates(
    [c for c in df.columns if c != "__bucket"]
)


def counts(out):
    plan = out._jdf.queryExecution().executedPlan().toString()
    return {
        n: plan.count(n)
        for n in ("Sort ", "Exchange", "Window", "HashAggregate")
    }


# OLD guard: count window over partitionBy(vkey)
wv_old = Window.partitionBy(*[F.col(c) for c in vkey])
old_guard = (
    merged.withColumn("__vk_n", F.count(F.lit(1)).over(wv_old))
    .filter(F.assert_true(F.col("__vk_n") <= 1).isNull())
    .drop("__vk_n")
)
old_out = latest_per_key_window(old_guard, keys, order_col=order_col, tiebreak_cols=tiebreaks)
open("plans/r16/fold_write_sort_before.txt", "w").write(
    "Fold write plan, OLD conflict guard (count window over partitionBy(vkey)):\n"
    + old_out._jdf.queryExecution().executedPlan().toString()
)
print("OLD:", counts(old_out))

# NEW guard: lag-equality over the derive's window spec (desc)
sort_cols = [order_col] + tiebreaks
wv_new = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
    *[F.col(c).desc() for c in sort_cols]
)
dup = F.lag(F.lit(1)).over(wv_new).isNotNull()
for c in sort_cols:
    dup = dup & F.lag(F.col(c)).over(wv_new).eqNullSafe(F.col(c))
new_guard = (
    merged.withColumn("__vk_dup", dup)
    .filter(F.assert_true(~F.col("__vk_dup")).isNull())
    .drop("__vk_dup")
)
new_out = latest_per_key_window(new_guard, keys, order_col=order_col, tiebreak_cols=tiebreaks)
open("plans/r16/fold_write_sort_after.txt", "w").write(
    "Fold write plan, NEW conflict guard (lag-equality riding the derive window sort):\n"
    + new_out._jdf.queryExecution().executedPlan().toString()
)
print("NEW:", counts(new_out))

# sanity: same rows
a = sorted(map(tuple, old_out.collect()))
b = sorted(map(tuple, new_out.collect()))
print("rows equal:", a == b, len(a))
