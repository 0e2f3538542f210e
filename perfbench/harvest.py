"""Spark stage harvest: what each stage of one job cost, by class.

Read after the timed section from the Spark status store. The
listener bus is asynchronous, so it is drained first, or the tail of a
job lands in the next snapshot (the same drain + ``stageList`` pattern
as the repository's shuffle audit).

Every stage of an extraction job falls in one of five classes, told
apart by the operators in its operation graph:

- ``bins``: the ``partitionBy`` stage that places the media bins
  (its graph has a ``PairwiseRDD``);
- ``media``: the ``mapInPandas`` media kernel stage (``MapInPandas``
  computed here, not read back from the cache);
- ``reassemble``: the ordered ``collect_list`` reassembly and the
  ``extracted/`` write (``ObjectHashAggregate`` without ``Generate``);
- ``spans``: the rest of the extraction plan before the reassembly ends:
  the document scan, ``posexplode`` and the text/HTML/PDF pandas UDF,
  the join of media results to spans, and the checkpoint ``todo`` check;
- ``lineage``: everything submitted after the reassembly ends (the
  read-back, ``_checkpoint/``, ``recognitions/``, ``_metrics/`` and the
  summary collects), plus file-listing jobs (checkpoint reads).

A stage that fits none of these is ``unclassified``; the self-test
requires that class to stay empty.
"""

from __future__ import annotations

CLASSES = ("bins", "media", "spans", "reassemble", "lineage")
_SPAN_MARKERS = ("Generate", "ArrowEvalPython", "InMemoryTableScan", "CollectLimit", "Scan parquet")
_LISTING_ONLY = {"parallelize", "mapPartitions", "ParallelCollectionRDD", "MapPartitionsRDD"}


class StageStore:
    """Snapshot access to the active session's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()

    def _list(self):
        self.sc.listenerBus().waitUntilEmpty()
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(jvm.double, 2)
        quantiles[0] = 0.5
        quantiles[1] = 1.0
        empty = jvm.java.util.Collections.emptyList()
        stages = self.sc.statusStore().stageList(empty, False, True, quantiles, empty)
        it = stages.iterator()
        while it.hasNext():
            yield it.next()

    def seen(self) -> set[tuple[int, int]]:
        return {(s.stageId(), s.attemptId()) for s in self._list()}

    def _graph_names(self, stage_id: int) -> set[str]:
        names: set[str] = set()
        todo = [self.sc.statusStore().operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cl = todo.pop()
            names.add(cl.name().strip())
            it = cl.childNodes().iterator()
            while it.hasNext():
                names.add(it.next().name().split(" ")[0])
            it = cl.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return names

    def since(self, seen: set[tuple[int, int]]) -> list[dict]:
        """Completed stages not in ``seen``, as plain dicts."""
        out = []
        for s in self._list():
            if (s.stageId(), s.attemptId()) in seen or s.status().toString() != "COMPLETE":
                continue
            dist = s.taskMetricsDistributions()
            run_q = [0.0, 0.0]
            if dist.isDefined():
                q = dist.get().executorRunTime()
                run_q = [q.apply(0), q.apply(1)]
            out.append(
                {
                    "id": s.stageId(),
                    "submit": s.submissionTime().get().getTime() / 1000.0,
                    "end": s.completionTime().get().getTime() / 1000.0,
                    "tasks": s.numCompleteTasks(),
                    "task_s": s.executorRunTime() / 1000.0,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_read_mb": (s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()) / 1e6,
                    "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
                    "task_p50_ms": run_q[0],
                    "task_max_ms": run_q[1],
                    "ops": self._graph_names(s.stageId()),
                }
            )
        return sorted(out, key=lambda st: (st["submit"], st["id"]))


def classify(stages: list[dict]) -> None:
    """Set ``cls`` on every stage of one extraction job (see module doc)."""
    for st in stages:
        ops = st["ops"]
        if "PairwiseRDD" in ops:
            st["cls"] = "bins"
        elif "MapInPandas" in ops and "InMemoryTableScan" not in ops:
            st["cls"] = "media"
        elif "ObjectHashAggregate" in ops and "Generate" not in ops:
            st["cls"] = "reassemble"
    ends = [st["end"] for st in stages if st.get("cls") == "reassemble"]
    write_end = max(ends) if ends else float("inf")
    for st in stages:
        if "cls" in st:
            continue
        ops = {o for o in st["ops"] if not o.startswith("Stage ")}
        if st["submit"] >= write_end or ops <= _LISTING_ONLY:
            st["cls"] = "lineage"
        elif any(m in ops for m in _SPAN_MARKERS):
            st["cls"] = "spans"
        else:
            st["cls"] = "unclassified"


def timeline(stages: list[dict], t_call: float, t_return: float) -> dict:
    """Split the job's wall [t_call, t_return] (epoch seconds) into plan
    (call → first stage submitted), per-class stage time, and idle time
    (no stage running). A stretch where stages of several classes run at
    once is shared equally between those classes, so the parts add up to
    the wall exactly when the stage clock and the caller's agree."""
    cuts = sorted({t_call, t_return} | {min(max(t, t_call), t_return) for st in stages for t in (st["submit"], st["end"])})
    first = min((st["submit"] for st in stages), default=t_return)
    parts = {c: 0.0 for c in CLASSES + ("unclassified",)}
    plan = idle = 0.0
    for lo, hi in zip(cuts, cuts[1:]):
        active = {st["cls"] for st in stages if st["submit"] < hi and st["end"] > lo}
        if not active:
            if hi <= first:
                plan += hi - lo
            else:
                idle += hi - lo
            continue
        for c in active:
            parts[c] += (hi - lo) / len(active)
    return {"plan_s": plan, "idle_s": idle, "class_wall_s": parts}


def per_class(stages: list[dict], class_wall: dict) -> dict[str, float]:
    """``stage.<class>.*`` metrics for one job."""
    out: dict[str, float] = {}
    for c in CLASSES:
        group = [st for st in stages if st["cls"] == c]
        out[f"stage.{c}.wall_s"] = class_wall[c]
        for key in ("task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks"):
            out[f"stage.{c}.{key}"] = float(sum(st[key] for st in group))
        # straggler ratio of the class's heaviest stage: slowest task over
        # the median task
        heavy = max(group, key=lambda st: st["task_s"], default=None)
        out[f"stage.{c}.task_skew"] = (
            heavy["task_max_ms"] / heavy["task_p50_ms"] if heavy and heavy["task_p50_ms"] > 0 else 1.0
        )
    out["stage.unclassified.task_s"] = float(
        sum(st["task_s"] for st in stages if st["cls"] == "unclassified")
    )
    return out


def stage_wall(stages: list[dict], cls: str) -> float:
    """Submission → completion wall of a class's stages (not shared)."""
    group = [st for st in stages if st["cls"] == cls]
    if not group:
        return 0.0
    return max(st["end"] for st in group) - min(st["submit"] for st in group)
