#!/usr/bin/env python
"""Time every registry query (Spark exec + DuckDB oracle) at sf0.01 in
load_all() order — a proxy for the driver's correctness-gate budget. Writes
per-query timings to tools/profile_gate.json (not committed)."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flink_1_12_0_src_spark.queries import load_all  # noqa: E402
from flink_1_12_0_src_spark.session import get_spark  # noqa: E402
from tests.oracle import duck_connect  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    reg = load_all()
    spark = get_spark(app_name="profile_gate", cpus=8, shuffle_partitions=8)
    con = duck_connect(SF_DIR)
    out = {}
    t_start = time.perf_counter()
    for name, q in reg.items():
        t0 = time.perf_counter()
        err = None
        try:
            rows = q.spark(spark, SF_DIR).collect()
            nrows = len(rows)
        except Exception as e:  # noqa: BLE001
            err = repr(e)[:200]
            nrows = -1
        t1 = time.perf_counter()
        t_oracle = 0.0
        if err is None:
            to0 = time.perf_counter()
            try:
                con.execute(q.oracle).fetchall()
            except Exception as e:  # noqa: BLE001
                err = "oracle: " + repr(e)[:200]
            t_oracle = time.perf_counter() - to0
        out[name] = {"spark_s": round(t1 - t0, 2), "oracle_s": round(t_oracle, 2), "rows": nrows, "err": err}
        print(f"{time.perf_counter()-t_start:8.1f}  {name:40s} spark={t1-t0:6.2f}s oracle={t_oracle:5.2f}s rows={nrows} {err or ''}", flush=True)
    total = time.perf_counter() - t_start
    print(f"TOTAL {total:.1f}s over {len(out)} queries")
    Path(__file__).with_suffix(".json").write_text(json.dumps({"total_s": total, "queries": out}, indent=1))


if __name__ == "__main__":
    main()
