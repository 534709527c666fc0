"""Workflow DAG: named nodes of DataFrame transforms, topologically wired.

≡ the reference's Workflow (/root/reference/radient/orchestrate/
workflow.py:9-83): `add(runner, name, dependencies)` with the previous
node as the default dependency, `compile()` = topo sort, `execute()` =
run in order. The decisive difference (SURVEY §3.2): the reference
materializes every node's full output list and interprets a
row-at-a-time nested loop; here each node only EXTENDS the lazy Catalyst
plan, so "executing" the workflow costs nothing until an action, Catalyst
optimizes across node boundaries (filter pushdown through the whole DAG),
and a node consumed by several dependents is cached once instead of
recomputed.
"""

from __future__ import annotations

from collections.abc import Callable
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame

from radient_spark.session import local_frame

Node = Callable[..., DataFrame]


class Workflow:
    """DAG of named DataFrame transforms.

    Each node fn receives the output DataFrames of its dependencies (in
    declaration order); seed nodes (no deps) receive the kwargs passed to
    run(). The result of run() is the last-added node's DataFrame —
    still lazy, exactly like the reference returns the final node's
    outputs (workflow.py:83) but without forcing computation.
    """

    def __init__(self) -> None:
        self._nodes: dict[str, Node] = {}
        self._deps: dict[str, list[str]] = {}
        self._order: list[str] = []

    def add(
        self,
        fn: Node,
        name: str,
        dependencies: list[str] | None = None,
    ) -> "Workflow":
        if name in self._nodes:
            raise ValueError(f"duplicate node name {name!r}")
        if dependencies is None:
            # default: linear chain on the previously added node
            # (workflow.py:33-36)
            dependencies = [self._order[-1]] if self._order else []
        unknown = [d for d in dependencies if d not in self._nodes]
        if unknown:
            raise ValueError(f"unknown dependencies for {name!r}: {unknown}")
        self._nodes[name] = fn
        self._deps[name] = dependencies
        self._order.append(name)
        return self

    def compile(self) -> list[str]:
        """Topological order (workflow.py:41-43); cycles raise."""
        return list(TopologicalSorter(self._deps).static_order())

    def run(self, **kwargs) -> DataFrame:
        """Wire the DAG; returns the final node's (lazy) DataFrame.

        Multi-consumer nodes are cached — the Spark analog of the
        reference's `_all_outputs` table (workflow.py:62-64) that lets
        several dependents read one node's output without recompute.
        """
        consumers: dict[str, int] = {}
        for deps in self._deps.values():
            for d in deps:
                consumers[d] = consumers.get(d, 0) + 1
        outputs: dict[str, DataFrame] = {}
        for name in self.compile():
            fn = self._nodes[name]
            deps = self._deps[name]
            if deps:
                result = fn(*[outputs[d] for d in deps])
            else:
                result = fn(**kwargs)
            if consumers.get(name, 0) > 1 and isinstance(result, DataFrame):
                result = result.cache()
            outputs[name] = result
        return outputs[self._order[-1]]


def flattened_rows(spark, **columns) -> DataFrame:
    """Zip-cycle argument broadcasting as a DataFrame seeder — the
    reference's `flattened` contract (utils/flatten_inputs.py:32-50):
    scalars and shorter lists cycle against the longest list, one output
    row per zipped position. Use it to seed a Workflow with literal
    inputs (e.g. many URIs x one modality) before the DataFrame
    operators take over; inside the plan the same semantics are native
    columnar explode/arrays_zip.
    """
    from itertools import cycle, islice

    if not columns:
        raise ValueError("flattened_rows needs at least one column")
    vals = {k: (list(v) if isinstance(v, (list, tuple)) else [v])
            for k, v in columns.items()}
    for k, v in vals.items():
        if not v:
            raise ValueError(f"column {k!r} has no values to cycle")
    maxlen = max(len(v) for v in vals.values())
    rows = list(zip(*[list(islice(cycle(v), maxlen)) for v in vals.values()]))
    # the column types createDataFrame infers from the Python values
    schema = spark._inferSchemaFromList(rows, names=list(vals.keys()))
    return local_frame(spark, rows, schema)
