"""Spark's own accounting, read from outside the engine.

- :class:`StatusStore` reads jobs and stages from the application status
  store (``SparkContext.statusStore``), which is kept with the UI off.
  Both lists cross py4j as one JSON document each.
- :class:`StreamListener` is a ``StreamingQueryListener`` that records
  which operation started each streaming query run and every
  micro-batch progress report.
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = spark._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs_by_group(self) -> dict[str, list[dict]]:
        """Completed or running jobs keyed by job group."""
        out: dict[str, list[dict]] = {}
        for job in json.loads(self._mapper.writeValueAsString(self._store.jobsList(None))):
            out.setdefault(job.get("jobGroup") or "", []).append(job)
        return out

    def stages(self) -> dict[int, dict]:
        """Last attempt of every stage, keyed by stage id."""
        raw = self._store.stageList(None, False, False, self._no_quantiles, None)
        out: dict[int, dict] = {}
        for st in json.loads(self._mapper.writeValueAsString(raw)):
            if st["stageId"] not in out or st["attemptId"] > out[st["stageId"]]["attemptId"]:
                out[st["stageId"]] = st
        return out


class StreamListener(StreamingQueryListener):
    """Attributes streaming query runs to the operation that started them.

    ``onQueryStarted`` is delivered synchronously from ``start()``, so
    ``current_op`` (set by the harness before each operation) is the
    starting operation. Progress reports arrive later on the listener
    bus; :meth:`settle` waits until every started run has terminated.
    """

    def __init__(self) -> None:
        super().__init__()
        self.current_op: str | None = None
        self.run_op: dict[str, str] = {}
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_op[str(event.runId)] = self.current_op

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.runId))

    def settle(self, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.run_op) <= self._terminated:
                    return
            time.sleep(0.05)
