"""Print `run_batch`'s physical plan for the benchmark's backlog-replay
config (binlog files → time-machine cells), plus its two startup
checkpoint variants (file/pos and GTID set), with expression ids, plan
ids and file paths normalized so two checkouts' dumps diff cleanly.

    PYTHONPATH=. python tools/runner_plan.py > plan.txt

Run it in two checkouts and `diff` the outputs: a refactor of the
source or runner layers should leave the operators and exchanges
unchanged.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return re.sub(r"file:[^\],]*", "file:...", plan)


def main() -> None:
    from perfbench import gen
    from replicator_spark.runner import run_batch
    from replicator_spark.session import get_spark
    from replicator_spark.sources.binlog import _SID_UUID

    with tempfile.TemporaryDirectory() as work:
        logs = os.path.join(work, "binlog")
        rows = gen.change_rows(1, 2000, 1)
        gen.write_binlog_files(rows, gen.file_bounds(1, rows.num_rows, 4), logs)
        spark = get_spark("runner-plan")
        base = {"source.type": "binlog_files", "source.binlog.path": logs,
                "applier.type": "timemachine"}
        configs = {
            "backlog": base,
            "filepos": {**base,
                        "source.binlog.checkpoint.file": "binlog.000001",
                        "source.binlog.checkpoint.pos": 4},
            "gtid": {**base,
                     "source.binlog.checkpoint.gtid_set": f"{_SID_UUID}:1-5"},
        }
        for name, cfg in configs.items():
            df = run_batch(spark, logs, cfg)
            print(f"=== {name}: rows={df.count()}")
            print(_normalize(df._jdf.queryExecution().executedPlan().toString()))
        spark.stop()


if __name__ == "__main__":
    main()
