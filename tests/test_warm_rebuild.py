"""A query spec's builder returns a lazy plan: once its memos and
staged layouts exist, building it again launches no Spark job.

bench.py times warm passes as re-executions of the DataFrame a
non-``eager`` spec returned, so a job its builder runs on every call
(a ``first()``, a catalog listing, a schema-inference read) would fall
outside every warm timing. A builder that must run actions is marked
``eager=True`` and rebuilt every pass instead.
"""

from __future__ import annotations

from gcp_dbt_data_engineering_spark.status import StatusReader

SF = "/root/testdata/sf0.001"


def test_warm_rebuild_of_a_lazy_query_spec_launches_no_job(spark):
    import __spark_entry__ as e

    launched = {}
    for name, spec in e._all_specs().items():
        if spec.kind != "query" or spec.eager:
            continue
        spec.spark(spark, SF)  # stages layouts and builds memos
        reader = StatusReader(spark)
        spec.spark(spark, SF)
        if jobs := reader.read()["jobs"]:
            launched[name] = jobs
    assert launched == {}, f"mark these eager=True or make them lazy: {launched}"
