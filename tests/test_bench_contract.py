"""Lockstep guard for the eager-construction bench contract (round-4
verdict item 1).

bench.py times eager queries (``ocr_spark.queries.EAGER``) as
construction + force, and everything else as force-only with the plan
built outside the timed window. That split is only honest if EVERY query
that runs Spark jobs during plan construction is flagged eager — boruvka_msf
was benched at 0.097 s (read-back of an eager localCheckpoint) instead of
its real multi-second cost because the flag lived in a hand-maintained
bench.py set that didn't keep up with the registry.

This test measures the ground truth instead of trusting the flag: it
CONSTRUCTS every registered query at sf0.001 and counts Spark jobs
submitted during construction (DAGScheduler.nextJobId is the
monotonically-increasing submission counter; streaming work appears there
too because availableNow micro-batches submit jobs). A query is
eager-in-fact iff construction submits jobs; the test asserts
eager-in-fact == EAGER, in both directions, naming offenders.
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"

# Job-name prefixes of plan-metadata jobs, which every construction may
# submit and which are not eager work: ``spark.read.parquet`` runs a 1-task
# schema-inference job named ``parquet at ...``.
_METADATA_JOB_PREFIXES = ("parquet at",)


def _next_job_id(spark) -> int:
    # private[spark] compiles to public bytecode, so py4j can read the
    # DAGScheduler's job-id counter directly — no listener race.
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _work_jobs_between(spark, lo: int, hi: int) -> list[str]:
    """Names of non-metadata jobs with lo <= jobId < hi.

    Jobs matching ``_METADATA_JOB_PREFIXES`` are plan *metadata*, present
    in every query's construction, not eager work; everything else
    (localCheckpoint, collect/toPandas, streaming micro-batches, writes) is
    real execution.
    """
    store = spark._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    names = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if lo <= j.jobId() < hi and not j.name().startswith(
                _METADATA_JOB_PREFIXES):
            names.append(j.name())
    return names


def test_eager_flag_matches_construction_behavior(spark):
    from ocr_spark.queries import EAGER, QUERIES

    eager_in_fact: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        before = _next_job_id(spark)
        df = fn(spark, SF_DIR)
        jobs = _work_jobs_between(spark, before, _next_job_id(spark))
        if jobs:
            eager_in_fact[name] = jobs
        del df

    unflagged = {n: j for n, j in eager_in_fact.items() if n not in EAGER}
    assert not unflagged, (
        "queries that run Spark jobs during plan construction but are not "
        f"flagged eager=True at @query (bench would mis-time them); "
        f"query -> construction job names: {dict(sorted(unflagged.items()))}"
    )
    overflagged = EAGER - set(eager_in_fact)
    assert not overflagged, (
        "queries flagged eager=True whose construction submitted no Spark "
        f"jobs (flag is stale; bench pays a pointless rebuild): "
        f"{sorted(overflagged)}"
    )


def test_eager_set_is_registered():
    from ocr_spark.queries import EAGER, QUERIES

    assert EAGER <= set(QUERIES), sorted(EAGER - set(QUERIES))
