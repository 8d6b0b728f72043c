"""Run statistics — the PigStats / progress-notification surface.

Parity target: `tools/pigstats/` in the reference (PigStats.java,
JobStats.java, PigProgressNotificationListener.java — job counts,
task counts, wall time, success flag, reported to the caller after
each launch; SURVEY §3.3). Spark equivalent: a job group around the
action + `SparkContext.statusTracker()` for per-job/stage task
counts, which is exactly the granularity Pig reports per MR job.

    from pig_spark.stats import run_with_stats
    stats = run_with_stats(spark, lambda: rel.store(path))
    stats.duration_s, stats.num_jobs, stats.num_tasks, stats.is_successful()

Building a DataFrame also costs driver time: every PySpark API call is
one or more py4j round trips to the JVM. :func:`count_py4j` counts them
exactly.
"""

from __future__ import annotations

import time
import uuid
from collections import Counter
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession


@dataclass
class JobStats:
    """≅ org.apache.pig.tools.pigstats.JobStats (one Spark job ≅ one MR job)."""

    job_id: int
    num_stages: int
    num_tasks: int
    num_failed_tasks: int


@dataclass
class RunStats:
    """≅ PigStats: one launched action's summary."""

    duration_s: float
    jobs: list[JobStats] = field(default_factory=list)
    result: Any = None
    error: Exception | None = None

    def is_successful(self) -> bool:
        return self.error is None

    @property
    def num_jobs(self) -> int:
        return len(self.jobs)

    @property
    def num_tasks(self) -> int:
        return sum(j.num_tasks for j in self.jobs)


def run_with_stats(spark: SparkSession, action: Callable[[], Any], description: str = "pig_spark") -> RunStats:
    """Execute `action` (anything that triggers Spark jobs) inside a
    dedicated job group; harvest per-job stage/task counts afterward
    from the status tracker. The progress-listener pattern
    (PigProgressNotificationListener) maps to polling the same
    tracker from another thread — the data source is identical."""
    sc = spark.sparkContext
    group = f"pigstats-{uuid.uuid4().hex[:8]}"
    tracker = sc.statusTracker()
    t0 = time.time()
    err: Exception | None = None
    result = None
    sc.setJobGroup(group, description, interruptOnCancel=False)
    try:
        result = action()
    except Exception as e:
        err = e
    finally:
        sc.setJobGroup("", "")
    dur = time.time() - t0

    jobs: list[JobStats] = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        num_stages = len(info.stageIds)
        n_tasks = n_failed = 0
        for sid in info.stageIds:
            s = tracker.getStageInfo(sid)
            if s is not None:
                n_tasks += s.numTasks
                n_failed += s.numFailedTasks
        jobs.append(JobStats(jid, num_stages, n_tasks, n_failed))
    return RunStats(round(dur, 3), jobs, result, err)


@dataclass
class Py4jCalls:
    """What :func:`count_py4j` saw: ``total`` commands sent to the JVM,
    and ``by_command`` keyed by the py4j command and subcommand
    (``"c"`` a method call, ``"r u"``/``"r m"`` reflection lookups,
    ``"m d"`` a proxy delete, ...)."""

    total: int = 0
    by_command: Counter = field(default_factory=Counter)


@contextmanager
def count_py4j(spark: SparkSession) -> Iterator[Py4jCalls]:
    """Count every py4j command the driver sends while the block runs.

    Wraps the gateway client's ``send_command`` on entry and restores
    it on exit, so it costs nothing outside the block. Commands sent
    from any thread count, including proxy deletes that py4j's
    finalizer thread sends for objects freed inside the block.

    Under PySpark 4.1 one ``F.*`` function or ``Column`` operator call
    sends about eight commands:

    - two reflection lookups (``r u`` to resolve the name, ``r m`` to
      bind the method);
    - about five call-site origin calls (while
      ``spark.python.sql.dataFrameDebugging.enabled`` is on, the
      ``_with_origin`` wrapper looks up ``PySparkCurrentOrigin``, reads
      ``spark.sql.stackTracesInDataFrameContext``, then sets and
      clears the origin);
    - a proxy delete (``m d``) once the returned ``Column``'s Java
      object is garbage-collected.

    A SQL expression string passed to ``selectExpr`` or ``F.expr`` is
    parsed in the JVM in one call, whatever its size::

        with count_py4j(spark) as calls:
            df = build(spark)
        calls.total, calls.by_command.most_common(3)
    """
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    calls = Py4jCalls()
    outer = vars(client).get("send_command")
    send = client.send_command

    def counted(command: str, *args: Any, **kwargs: Any) -> Any:
        calls.total += 1
        calls.by_command[" ".join(command.split("\n", 2)[:2])] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield calls
    finally:
        if outer is None:
            del client.send_command
        else:
            client.send_command = outer
