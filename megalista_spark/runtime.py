"""Driver-side runtime shared by the operators and the pipeline.

``overlap`` runs independent Spark jobs at once from driver threads: the
LSH audits overlap their input builds with it, and ``Pipeline.run`` runs
one lane of branches per thread with it.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed, wait
from typing import Any
from uuid import uuid4

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(*jobs: tuple[str, Callable[[], Any]]) -> list:
    """Run each ``(description, thunk)`` on its own driver thread, so
    independent Spark jobs share the cluster; return the results in
    argument order.

    Each thread inherits the caller's local properties (job group,
    scheduler pool, job tags) via ``inheritable_thread_target``, so
    ``cancelJobGroup`` and per-group job counts see the overlapped work.
    Its jobs carry ``description`` and a tag of their own. On the first
    exception the other thunks' jobs are cancelled by tag, again until
    their threads return (a job started after one cancel dies at the
    next), and that first exception is re-raised.
    """
    spark = SparkSession.active()
    sc = spark.sparkContext
    tags = [f"megalista-overlap-{uuid4().hex}" for _ in jobs]

    def tagged(description: str, thunk: Callable[[], Any], tag: str):
        def run() -> Any:
            sc.addJobTag(tag)
            sc.setJobDescription(description)
            return thunk()

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [
            pool.submit(tagged(description, thunk, tag))
            for (description, thunk), tag in zip(jobs, tags)
        ]
        first = next((f for f in as_completed(futures) if f.exception()), None)
        if first is None:
            return [f.result() for f in futures]
        while running := [(f, t) for f, t in zip(futures, tags) if not f.done()]:
            for _, tag in running:
                sc.cancelJobsWithTag(tag)
            wait([f for f, _ in running], timeout=0.1)
    raise first.exception()
