"""Bounded, non-blocking reads of df.observe metrics.

pyspark's ``Observation.get`` blocks forever if the CollectMetrics node
never reports (e.g. AQE pruned the branch). The JVM side offers
``getRowOrEmpty`` with a ~100 ms bounded wait — but observation metrics
are delivered via the ASYNC query-execution listener bus, so a single
bounded read can also race a late-but-real delivery under a loaded
driver. ``observation_metrics`` polls the bounded read for up to
``timeout_s`` seconds (the action has already finished when callers
invoke it, so real metrics land within milliseconds ordinarily) and
only then gives up.

Two outcomes must stay apart: a node that reported an empty row (a
pruned branch: every count is a true zero) reads as ``{}``, and a node
that never reported within the deadline (the count is unknown) reads
as ``None``.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation


def observation_metrics(o: Observation, timeout_s: float = 10.0) -> dict | None:
    """Metrics dict of a finished action's Observation; ``{}`` if the
    node reported an empty row (pruned branch), None if it never
    reported within timeout_s.

    Never blocks indefinitely. Callers that commit counts must treat
    None as unknown, never as zero.
    """
    from pyspark.serializers import CPickleSerializer

    deadline = time.monotonic() + timeout_s
    while True:
        jopt = o._jo.getRowOrEmpty()  # JVM-side bounded ~100 ms wait
        if jopt.isDefined():
            if jopt.get().size() == 0:
                # definitive: the execution-end event arrived and this
                # node reported nothing (pruned / empty branch)
                return {}
            utils = getattr(o._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
            return CPickleSerializer().loads(utils.toPyRow(jopt.get())).asDict()
        # undefined = the async listener bus has not delivered yet —
        # the caller's action already finished, so keep polling briefly
        if time.monotonic() >= deadline:
            return None
