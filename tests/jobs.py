"""Spark job accounting for the tests that assert a call starts no job."""

from __future__ import annotations


def newest_job(spark) -> int:
    """The newest job id the status tracker holds. Ids only grow, while the
    tracker drops the oldest jobs past ``spark.ui.retainedJobs`` (on a
    background thread, at any time), so the newest id, not the retained
    set, shows whether a job started."""
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)
