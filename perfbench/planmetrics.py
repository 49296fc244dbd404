"""The benchmark's one plan-metrics reader, shared by every workload.

Spark's SQL status store keeps each execution's plan graph, but only
formatted metric strings ("1.2 s", "4.1 MiB (…)"). The raw values live in
the ``SQLMetric`` accumulators of the executed plan, so this reader
registers a ``QueryExecutionListener`` (a Python object implementing the
Java interface over the py4j callback server) and, when each execution
ends, walks its executed plan — into the AQE final plan and every query
stage — recording every node with its raw metric values and metric type.
It works with the Spark UI disabled and changes no program code.

``layers()`` maps nodes to the pipeline's layers:

* ``FileSourceScanExec`` → scan
* ``SortExec`` under a ``WindowExec`` and the shuffle exchange below it → order
* a shuffle exchange from ``repartition(n, …)`` → the salted exchange
* ``ArrowEvalPythonExec`` → detect (the fused detect+apply UDF)
* ``DataWritingCommandExec`` → checkpoint write (its own task and job
  commit times; the data write itself runs inside the pipeline's tasks)
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started

# metric types whose raw values are times (milliseconds / nanoseconds)
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Node:
    cls: str
    metrics: dict  # metric name -> (raw value, metric type)
    zone: str = ""  # "order" for nodes between a Window and its exchange
    origin: str = ""  # shuffle origin of an exchange

    def get(self, name: str) -> float:
        """A metric's raw value; times converted to seconds."""
        raw, kind = self.metrics.get(name, (0, "sum"))
        return raw * _TIME_SCALE.get(kind, 1)


@dataclass
class Execution:
    func: str
    duration_s: float
    nodes: list = field(default_factory=list)
    failed: bool = False

    def of(self, cls: str) -> list:
        return [n for n in self.nodes if n.cls == cls]

    @property
    def runs_detect(self) -> bool:
        return bool(self.of("ArrowEvalPythonExec"))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _walk(plan, zone: str, out: list) -> None:
    cls = plan.getClass().getSimpleName()
    metrics = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        m = it.next()._2()
        metrics[m.name().get()] = (m.value(), m.metricType())
    node = Node(cls, metrics, zone)
    if cls == "ShuffleExchangeExec":
        node.origin = plan.shuffleOrigin().toString()
    out.append(node)
    if cls == "WindowExec":
        zone = "order"
    elif cls == "ShuffleExchangeExec":
        zone = ""
    if cls == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = _seq(plan.children())
    for k in kids:
        _walk(k, zone, out)


class PlanMetrics:
    """Registers on a session; ``take()`` returns the executions finished
    since the last ``take()`` once the listener bus is drained."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._execs: list[Execution] = []
        ensure_callback_server_started(self._sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # --- QueryExecutionListener (called on Spark's listener bus thread) ---
    def onSuccess(self, func, qe, duration_ns):
        nodes: list[Node] = []
        _walk(qe.executedPlan(), "", nodes)
        with self._lock:
            self._execs.append(Execution(func, duration_ns / 1e9, nodes))

    def onFailure(self, func, qe, exception):
        with self._lock:
            self._execs.append(Execution(func, 0.0, failed=True))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def take(self) -> list[Execution]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._execs = self._execs, []
        return out


def layers(execs: list[Execution]) -> dict:
    """Per-layer totals over the executions of one call (see module doc)."""
    pipe = [e for e in execs if e.runs_detect]
    other = [e for e in execs if not e.runs_detect]
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for e in pipe:
        for n in e.of("FileSourceScanExec"):
            add("pipeline.scan.rows", n.get("number of output rows"))
            add("pipeline.scan.bytes", n.get("size of files read"))
            add("pipeline.scan.time_s", n.get("scan time"))
        # a foreachBatch micro-batch arrives as an RDD of the source's rows
        for n in e.of("RDDScanExec"):
            add("pipeline.scan.rows", n.get("number of output rows"))
        for n in e.of("SortExec"):
            if n.zone == "order":
                add("pipeline.order.sort_time_s", n.get("sort time"))
                m["pipeline.order.sort_peak_mib"] = max(
                    m.get("pipeline.order.sort_peak_mib", 0.0), n.get("peak memory") / 2**20
                )
        for n in e.of("ShuffleExchangeExec"):
            if n.zone == "order":
                layer = "pipeline.order"
            elif n.origin.startswith("REPARTITION"):
                layer = "pipeline.exchange"
                add("pipeline.exchange.write_time_s", n.get("shuffle write time"))
                add("pipeline.exchange.fetch_wait_s", n.get("fetch wait time"))
            else:
                continue
            add(f"{layer}.shuffle_records", n.get("shuffle records written"))
            add(f"{layer}.shuffle_bytes", n.get("shuffle bytes written"))
        for n in e.of("ArrowEvalPythonExec"):
            add("detect.python_s", n.get("time to run Python workers"))
            add("detect.worker_start_s", n.get("time to start Python workers"))
            add("detect.worker_init_s", n.get("time to initialize Python workers"))
            add("detect.bytes_to_python", n.get("data sent to Python workers"))
            add("detect.bytes_from_python", n.get("data returned from Python workers"))
            add("detect.rows", n.get("number of output rows"))
        for n in e.of("DataWritingCommandExec"):
            add("checkpoint.commit_s", n.get("task commit time") + n.get("job commit time"))
            add("checkpoint.output_bytes", n.get("written output"))
            add("checkpoint.output_files", n.get("number of written files"))
    if pipe:
        counts = sorted(len(e.of("ShuffleExchangeExec")) for e in pipe)
        mid = len(counts) // 2
        m["pipeline.exchanges"] = (counts[mid] + counts[~mid]) / 2
    for e in other:
        for n in e.of("FileSourceScanExec"):
            add("checkpoint.readback_rows", n.get("number of output rows"))
    m["sql_executions"] = len(execs)
    m["failed_executions"] = sum(e.failed for e in execs)
    return m


def codegen_time_s(execs: list[Execution]) -> float:
    """Summed whole-stage-codegen pipeline time over the executions."""
    return sum(n.get("duration") for e in execs for n in e.of("WholeStageCodegenExec"))
