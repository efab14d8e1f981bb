"""Spark session sized to the box, and the counters read beside it.

- ``start_session``: ``local[nproc]`` through the library's own
  ``get_spark(cpus=...)``, driver memory through the library's
  ``SKETCHLIB_DRIVER_MEM`` deployment variable, the checkout on the
  Python workers' ``PYTHONPATH``, and every Spark and temp directory inside
  the run's scratch directory.
- ``StageCounters``: shuffle bytes written, executor run time and retried
  work, read from Spark's own status store through the session.
- ``peak_rss_mb``: the driver JVM's ``VmHWM`` plus this process's, from
  ``/proc``.
"""

from __future__ import annotations

import os


def box_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"/proc/meminfo has no {field}")


def driver_mem() -> str:
    """A quarter of the box's RAM, at most 2 GiB: the tables here are a few
    hundred MB, and the box is shared."""
    gib = max(1, min(2, _meminfo_kb("MemTotal") // (4 << 20)))
    return f"{gib}g"


def start_session(root: str, scratch: str, cpus: int):
    """Start (or restart) the session at ``local[cpus]``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    mem = driver_mem()
    os.environ["SKETCHLIB_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    from sketchlib.spark import session

    return session.get_spark(
        app="perfbench",
        cpus=cpus,
        extra={
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # a fixed, pre-touched heap: the JVM's share of peak RSS is then
            # the configured heap, not the moment its heap happened to grow
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{mem} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )


class StageCounters:
    """Totals over the stages the status store holds; ``delta`` gives the
    work done between two snapshots."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark._jvm
        self._statuses = jvm.java.util.ArrayList()
        for v in jvm.org.apache.spark.status.api.v1.StageStatus.values():
            self._statuses.add(v)

    def snapshot(self) -> dict[tuple[int, int], tuple[int, int, int]]:
        """{(stage id, attempt): (shuffle bytes written, executor run ms,
        failed tasks)}."""
        st = self._store
        stages = st.stageList(
            self._statuses, False, False,
            getattr(st, "stageList$default$4")(), getattr(st, "stageList$default$5")(),
        )
        out = {}
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = (
                s.shuffleWriteBytes(), s.executorRunTime(), s.numFailedTasks(),
            )
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        shuffle = run_ms = retries = 0
        for key, (b, ms, failed) in after.items():
            b0, ms0, failed0 = before.get(key, (0, 0, 0))
            shuffle += b - b0
            run_ms += ms - ms0
            # a failed task is re-run, and so is a stage resubmitted as a
            # new attempt
            retries += failed - failed0
            if key[1] > 0 and key not in before:
                retries += 1
        return {
            "shuffle_write_bytes": float(shuffle),
            "executor_run_s": run_ms / 1000.0,
            "task_retries": float(retries),
        }


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vmhwm_kb(jvm_pid) + _vmhwm_kb("self")) / 1024.0
