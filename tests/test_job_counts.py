"""Job-count regression gates for the release path.

At small and medium scale the t-closeness release is scheduling-bound:
its wall time follows the number of Spark jobs, not the rows. These
gates count the jobs one release starts (through a job group and the
status tracker) and fail when an eager round-trip comes back — a
size-gate count, a collected global distribution, a ``df.rdd``
partition probe, a min/max broadcast stage re-run per consumer.
"""

from __future__ import annotations

import uuid

from dbms_data_anonymity_differential_privacy_spark import queries_registry as qr
from dbms_data_anonymity_differential_privacy_spark.operators.util import release_cached_relations
from dbms_data_anonymity_differential_privacy_spark.sources.writers import write_release

# c04_t_closeness_strict + write_release at sf0.01, as measured: the
# binning bounds, the (class, sensitive, count) collect (map stage +
# result) and the write's stages.
TCLOSE_RELEASE_MAX_JOBS = 7


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_tcloseness_release_job_budget(spark, sf001, tmp_path):
    spark.catalog.clearCache()
    release_cached_relations()

    def release():
        df = qr.QUERIES["c04_t_closeness_strict"](spark, sf001)
        write_release(df, str(tmp_path / "release"), mode="overwrite")

    jobs = _jobs_in_group(spark, release)
    assert 0 < jobs <= TCLOSE_RELEASE_MAX_JOBS, jobs
