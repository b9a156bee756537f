"""The monitoring loop, closed by execution (r8 verdict item #4):
cusum_changepoints consumes the ACTUAL output frame of the quality
audit's monitor store (AuditPipeline.history()), so the column
contract between monitor and detector is pinned by a running test,
not prose. The test plants a level shift in the monitored corpus and
asserts CUSUM alarms at exactly its epoch."""

from __future__ import annotations

from cassandra_iot_pipeline_spark.functions import expectations as X
from cassandra_iot_pipeline_spark.operators.changepoints import (
    cusum_changepoints,
)
from cassandra_iot_pipeline_spark.streaming.audit import AuditPipeline


def test_cusum_over_audit_metric_series(spark, tmp_path):
    """Completeness metric from the quality audit's store: clean
    epochs at 1.0, then a sustained null flood — the check's series
    alarms 'down' at the flood's first epoch."""
    checks = [X.Completeness("id", min_frac=0.9)]
    pipe = AuditPipeline(str(tmp_path / "s"), checks)
    sch = "id BIGINT, cat STRING"
    clean = [[(3 * e + j, "a") for j in range(3)] for e in range(3)]
    flooded = [
        [(None, "a"), (None, "b"), (100 + e, "a")] for e in range(2)
    ]
    for e, rows in enumerate(clean + flooded):
        pipe.write_batch(spark.createDataFrame(rows, sch), epoch_id=e)
    alarms = cusum_changepoints(
        pipe.history(spark),
        ["check_name"],
        "metric",
        k=0.05,
        h=0.3,
        baseline_n=3,
    ).collect()
    assert [
        (r["check_name"], r["epoch"], r["direction"]) for r in alarms
    ] == [("completeness(id)", 3, "down")]
