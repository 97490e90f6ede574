"""Phase-0 smoke: seed → create_sinks → 3 CDC cycles → dedup view equals
latest-per-key computed independently. Run: python scripts/smoke_phase0.py"""
import os, shutil, sys, tempfile
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from leftshove_spark.session import get_spark, EngineConfig
from leftshove_spark.engine import Engine
from pyspark.sql import functions as F

spark = get_spark(shuffle_partitions=8)
work = tempfile.mkdtemp(prefix="ls_smoke_")
eng = Engine(spark, EngineConfig(replication_buffer_secs=0), state_path=f"{work}/state.json", sink_root=f"{work}/sink")

sf = "/root/testdata/sf0.001"
eng.seed([{"name": "events", "path": f"{sf}/events.parquet", "nms_column": "ts", "pkey_column": "event_id"}])
eng.create_sinks()

# drive 3 cycles with simulated "now" marching forward
for i, now in enumerate([datetime(2024, 1, 10), datetime(2024, 1, 20), datetime(2024, 2, 1)]):
    res = eng.run_cycle(now=now, snapshot_at=now)
    print(f"cycle {i}: {res}, state nms={eng.state.get('events','0').nms}")

cdc = spark.read.parquet(eng.sink_path(eng.state.get("events", "0")))
from leftshove_spark.sources import read_parquet_normalized
src = read_parquet_normalized(spark, f"{sf}/events.parquet")
print("cdc rows:", cdc.count(), "src rows:", src.count())
view = eng.current_state("events")
print("view rows:", view.count())
# every source row captured exactly once (windows disjoint, union = all)
assert cdc.count() == src.count(), "windows must partition the table"
assert view.count() == src.count(), "dedup view = one row per event_id"
assert view.select([c for c in src.columns]).exceptAll(src).count() == 0
print("PHASE 0 SMOKE OK")
shutil.rmtree(work)
spark.stop()
