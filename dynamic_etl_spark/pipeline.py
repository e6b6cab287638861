"""Pipeline runner (SURVEY.md §3): the reference's four Airflow DAGs as a
code-level step graph.

The reference sequences work by wall clock (four cron DAGs, no sensors —
dags/retail_daily_pipeline.py:17 et al); a late upstream silently starves
downstream. Here a Pipeline is an explicit DAG of named steps with
declared dependencies: steps run in topological order, each step's output
DataFrames are published to a shared context, and a failure stops the
run with the failing step named. Airflow/cron can still own the outer
schedule; the intra-day ordering is no longer implicit.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass
from graphlib import TopologicalSorter
from typing import Any


@dataclass(frozen=True)
class Step:
    """One pipeline step.

    ``retries`` mirrors the reference DAGs' default_args (retries=1 —
    dags/retail_daily_pipeline.py:5-10): a step that raises is re-run up
    to ``retries`` more times, immediately. The default stays 0 (fail
    fast) so deterministic failures — the common case in tests and data
    bugs — surface immediately; transient-failure steps (network reads,
    queue polls) opt in per step.
    """

    name: str
    fn: Callable[[dict[str, Any]], Any]
    depends_on: tuple[str, ...] = ()
    retries: int = 0


@dataclass
class RunResult:
    order: list[str]
    outputs: dict[str, Any]


class Pipeline:
    """Ordered step graph. ``fn(context)`` receives the accumulated
    context dict ({step_name: output, **initial}) and its return value is
    published under the step's name."""

    def __init__(self, name: str, steps: Sequence[Step]):
        self.name = name
        self.steps = {s.name: s for s in steps}
        if len(self.steps) != len(steps):
            raise ValueError("duplicate step names")
        for s in steps:
            for dep in s.depends_on:
                if dep not in self.steps:
                    raise ValueError(f"step '{s.name}' depends on unknown '{dep}'")

    def run(self, initial_context: dict[str, Any] | None = None) -> RunResult:
        ts = TopologicalSorter(
            {name: set(s.depends_on) for name, s in self.steps.items()}
        )
        result = RunResult(order=[], outputs=dict(initial_context or {}))
        for name in ts.static_order():
            step = self.steps[name]
            for attempt in range(step.retries + 1):
                try:
                    out = step.fn(result.outputs)
                    break
                except Exception as exc:
                    if attempt >= step.retries:
                        raise RuntimeError(
                            f"pipeline '{self.name}' failed at step '{name}' "
                            f"after {attempt + 1} attempt(s)"
                        ) from exc
            result.outputs[name] = out
            result.order.append(name)
        return result
