"""Physical-plan facts: the one reader of every plan property the repo
pins.

:func:`plan_facts` walks a DataFrame's physical plan tree over py4j and
returns plain Python values — shuffle exchanges with their partitioning
and keys, broadcast exchanges, join strategies, codegen stages, cached
scans, per-scan filters / read schema / pruned listing, and per-operator
counts. Every plan assertion (the registry-wide exchange pins in
``tools/plan_audit.py``, the build-time DPP gate of the fine run, the
plan-shape tests) reads these facts instead of the plan's text.

The walk sees each operator that will (or did) run exactly once:

* an adaptive plan is read through its CURRENT physical plan — never
  the initial plan its text also prints once the plan is final;
* a query stage is read through the exchange (or cached scan) it wraps;
* an in-memory scan is read through the cached relation's own physical
  plan, so a query that persists an intermediate keeps its shuffles in
  the count (the flagship coarse-to-fine run lives entirely inside its
  cached relation);
* subquery plans (scalar subqueries, DPP broadcasts) are walked like
  children;
* a reused exchange or subquery is a leaf: it re-reads a result, it
  does not re-run the plan under it.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Shuffle:
    """One shuffle exchange: Spark's partitioning class name
    (``HashPartitioning``, ``RangePartitioning``,
    ``RoundRobinPartitioning``, ``SinglePartition``) and the SQL of its
    key expressions (empty for keyless partitionings)."""

    partitioning: str
    keys: tuple[str, ...]


@dataclass(frozen=True)
class Scan:
    """One file-source scan: the columns it reads, the filters pushed
    into the reader, the partition filters (SQL) and whether one is
    dynamic partition pruning, whether it reads by bucket, and the
    partition / file count of its statically pruned listing."""

    read_schema: tuple[str, ...]
    pushed_filters: tuple[str, ...]
    partition_filters: tuple[str, ...]
    dpp: bool
    bucketed: bool
    partitions: int
    files: int


@dataclass(frozen=True)
class PlanFacts:
    """Facts of one physical plan, in walk order; ``joins`` holds each
    join operator's strategy name (``SortMergeJoin``, …), sorted."""

    shuffles: tuple[Shuffle, ...]
    joins: tuple[str, ...]
    scans: tuple[Scan, ...]
    # operator name (Spark's ``nodeName``, codegen stage id dropped) →
    # occurrences, e.g. ``Expand``, ``Window``, ``Scan ExistingRDD``
    nodes: Counter

    @property
    def broadcasts(self) -> int:
        return self.nodes["BroadcastExchange"]

    @property
    def codegen_stages(self) -> int:
        return self.nodes["WholeStageCodegen"]

    @property
    def cached_scans(self) -> int:
        return self.nodes["InMemoryTableScan"]

    @property
    def dpp(self) -> bool:
        """True if some scan applies dynamic partition pruning."""
        return any(s.dpp for s in self.scans)


_JOINS = {
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "ShuffledHashJoin",
    "SortMergeJoin",
}


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list of py4j objects."""
    return [s.apply(i) for i in range(s.size())]


def _class(obj) -> str:
    return obj.getClass().getSimpleName().rstrip("$")


def _shuffle(node) -> Shuffle:
    part = node.outputPartitioning()
    kind = _class(part)
    keys = ()
    if kind in ("HashPartitioning", "RangePartitioning"):
        # both are expressions whose children are the keys (range
        # keys are sort orders — the key is the sorted child)
        keys = tuple(
            (e.child() if kind == "RangePartitioning" else e).sql()
            for e in _seq(part.children())
        )
    return Shuffle(kind, keys)


def _scan(node) -> Scan:
    listing = node.selectedPartitions()
    part_filters = _seq(node.partitionFilters())
    schema = json.loads(node.requiredSchema().json())
    return Scan(
        read_schema=tuple(f["name"] for f in schema["fields"]),
        pushed_filters=tuple(
            f.toString() for f in _seq(node.pushedDownFilters())
        ),
        partition_filters=tuple(f.sql() for f in part_filters),
        dpp=any(_class(f) == "DynamicPruningExpression" for f in part_filters),
        bucketed=bool(node.bucketedScan()),
        partitions=int(listing.partitionCount()),
        files=int(listing.totalNumberOfFiles()),
    )


def _inner(node, name: str) -> list:
    """The plans under ``node`` that run as part of it: its children
    and subqueries, or — for the wrapper operators whose tree children
    are empty — the one plan they stand for."""
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "InMemoryTableScan":
        return [node.relation().cacheBuilder().cachedPlan()]
    return _seq(node.children()) + _seq(node.subqueries())


def plan_facts(df: DataFrame) -> PlanFacts:
    """Walk ``df``'s physical plan (see the module docstring for what
    the walk descends into) and return its :class:`PlanFacts`."""
    shuffles: list[Shuffle] = []
    scans: list[Scan] = []
    nodes: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName().split(" (")[0].rstrip()
        nodes[name] += 1
        if name == "Exchange":
            shuffles.append(_shuffle(node))
        elif name.startswith("Scan ") and _class(node) == "FileSourceScanExec":
            scans.append(_scan(node))
        stack.extend(reversed(_inner(node, name)))
    return PlanFacts(
        shuffles=tuple(shuffles),
        joins=tuple(n for n in sorted(nodes.elements()) if n in _JOINS),
        scans=tuple(scans),
        nodes=nodes,
    )
