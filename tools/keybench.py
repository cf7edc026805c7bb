"""Micro-bench: the latest-state stream on the v1 and v2 state APIs, by
grouping key, over identical input rows.

- ``v2_fine_key``: ``stream_latest_state_v2(per_valid_time=True)``. Per
  (series, hour) output, computed by v1's transition (``fold_latest``):
  one Python dispatch per touched series, the per-hour state in one
  ValueState per series.
- ``v2_entity_key``: the v2 default, one state row and one output row per
  series (latest observation over all hours).
- ``v1_arrow_state``: ``stream_latest_state`` (``applyInPandasWithState``),
  the same per-(series, hour) output as ``v2_fine_key``, so the two must
  emit the same number of rows.

The landing zone is staged with ``streaming.stage_ordered_landing`` into a
fixed number of files ordered by knowledge_time, so micro-batch composition
does not depend on the host's core count. Writes one JSON artifact
(KEYBENCH_r{N}.json).

Usage: python tools/keybench.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from timedb_spark.io.tables import bitemporal_frame  # noqa: E402
from timedb_spark.session import get_spark  # noqa: E402
from timedb_spark.streaming import stage_ordered_landing  # noqa: E402

#: landing-zone files, replayed two per micro-batch
N_FILES = 4


def main(sf_dir: str, out_path: str) -> int:
    spark = get_spark("keybench")
    from timedb_spark.streaming.state import stream_latest_state
    from timedb_spark.streaming.state_v2 import _HAVE_TWS, stream_latest_state_v2

    result: dict = {"sf_dir": sf_dir, "runs": {}}
    if not (_HAVE_TWS and entrymod._workers_have_protobuf(spark)):
        result["skipped"] = "state API v2 unavailable in this session (no protobuf in workers)"
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
        return 1

    sv = bitemporal_frame(spark, sf_dir).select(
        "series_id", "valid_time", "knowledge_time", "change_time", "value"
    )
    landing = tempfile.mkdtemp(prefix="keybench_sv_")
    d = stage_ordered_landing(sv, landing, N_FILES, "knowledge_time")
    result["n_rows"] = sv.count()
    result["n_keys_fine"] = sv.select("series_id", "valid_time").distinct().count()
    result["n_keys_entity"] = sv.select("series_id").distinct().count()

    def fresh_stream():
        return spark.readStream.schema(sv.schema).option("maxFilesPerTrigger", 2).parquet(d)

    # identical input rows and drain shape; only the state keying differs
    runs = [
        ("v2_fine_key", lambda s: entrymod._drain_v2(spark, stream_latest_state_v2(s, per_valid_time=True), "update")),
        ("v2_entity_key", lambda s: entrymod._drain_v2(spark, stream_latest_state_v2(s), "update")),
        ("v1_arrow_state", lambda s: entrymod._drain_with_few_partitions(spark, stream_latest_state(s), "update")),
    ]
    for name, run in runs:
        t0 = time.time()
        n = run(fresh_stream()).count()
        result["runs"][name] = {"sec": round(time.time() - t0, 2), "rows_emitted": n}
    shutil.rmtree(landing, ignore_errors=True)

    fine = result["runs"]["v2_fine_key"]["sec"]
    entity = result["runs"]["v2_entity_key"]["sec"]
    result["fine_over_entity_ratio"] = round(fine / entity, 2) if entity else None
    result["fine_rows_equal_v1"] = result["runs"]["v2_fine_key"]["rows_emitted"] == result["runs"]["v1_arrow_state"]["rows_emitted"]
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else "KEYBENCH.json"
    sys.exit(main(sf, out))
