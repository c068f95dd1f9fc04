"""Dump the formatted plan of the MERGE fused write job for a canonical
CDF-enabled upsert (4-file table, 1 match + 1 insert): the plan of the
frame the fused writer's one Spark job maps over, so a change to how
MERGE builds or routes its write frame shows up as a plan diff.

Usage: python scripts/capture_merge_write_plan.py <out.txt>
Run it from the tree whose plan you want; to compare two trees,
normalize expression ids (``#\\d+``), ``plan_id``s, uuids (file and
observation names) and the table's temporary directory before diffing.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1]

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.operators import cdc
    from delta_rs_spark.operators import merge as merge_mod
    from delta_rs_spark.session import get_spark

    spark = get_spark("capture-merge-plan")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plans: list[str] = []
    real = cdc.write_data_and_change_files

    def spy(df, *args, **kwargs):
        # the writer's one job is the mapInArrow over the frame it built
        frame_cls = type(df)
        real_map = frame_cls.mapInArrow

        def capture(self, *a, **kw):
            plans.append(self._jdf.queryExecution().explainString(mode))
            return real_map(self, *a, **kw)

        frame_cls.mapInArrow = capture
        try:
            return real(df, *args, **kwargs)
        finally:
            frame_cls.mapInArrow = real_map

    # every module that binds the writer: MERGE may reach it through
    # cdc's namespace or through its own import of the name
    holders = [m for m in (cdc, merge_mod) if hasattr(m, "write_data_and_change_files")]
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "tbl")
        for lo in (0, 100, 200, 300):
            write_deltalake(
                path,
                spark.range(lo, lo + 100).selectExpr("id", "id AS v").coalesce(1),
                mode="append" if lo else "error",
                configuration=(
                    {"delta.enableChangeDataFeed": "true"} if lo == 0 else None
                ),
            )
        for m in holders:
            m.write_data_and_change_files = spy
        try:
            dt = DeltaTable(path, spark=spark)
            src = spark.createDataFrame([(150, -1), (900, -9)], "id long, v long")
            (
                dt.merge(src, "t.id = s.id", source_alias="s", target_alias="t")
                .when_matched_update({"v": "s.v"})
                .when_not_matched_insert({"id": "s.id", "v": "s.v"})
                .execute()
            )
        finally:
            for m in holders:
                m.write_data_and_change_files = real

    assert plans, "fused write never ran (CDF fuse gate failed?)"
    with open(out_path, "w") as f:
        f.write(plans[0])
    n_scans = plans[0].count("Scan parquet")
    print(f"wrote {out_path}: {n_scans} parquet scan(s) in the write-job plan")
    spark.stop()


if __name__ == "__main__":
    main()
