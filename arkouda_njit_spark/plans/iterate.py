"""Driver-side fixpoint loop with lineage truncation, metrics, and resume.

The reference's iterative kernels (CC ConnectedComponents.chpl:33-104,
k-truss TrussMsg.chpl:128-617, BFS BreadthFirstSearch.chpl:27-138) all share
the shape: mutate a global state array until a change-counter stays zero.
Spark cannot express a fixpoint inside one plan (SURVEY.md §3), so the loop
lives on the driver:

  state_{i+1} = step(state_i, i)            # pure DataFrame -> DataFrame
  changed     = convergence(state_i, state_{i+1})   # one action

The loop eagerly ``localCheckpoint``s each new state *before* measuring
convergence, so each iteration's plan executes exactly once and lineage
never grows (without truncation the plan doubles per iteration and the
driver dies by iteration ~30).

North-rule requirements handled here:
  * **per-iteration, per-partition metrics** — row counts per partition plus
    wall time and the change metric, persisted as JSON next to the epochs.
  * **resumability** — with ``checkpoint_dir`` set, every ``epoch_interval``
    iterations the state is written to ``<dir>/epoch=<i>`` (parquet; atomic
    via the _SUCCESS marker). ``run`` restarts from the latest complete
    epoch, so a killed job resumes mid-algorithm.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class IterationMetrics:
    iteration: int
    wall_sec: float
    changed: float
    rows: int
    partition_rows: dict[int, int] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "iteration": self.iteration,
            "wall_sec": self.wall_sec,
            "changed": self.changed,
            "rows": self.rows,
            "partition_rows": self.partition_rows,
        }


def count_changed(key: str, col: str) -> Callable[[DataFrame, DataFrame], float]:
    """Convergence metric: number of rows whose ``col`` differs between
    consecutive states (the reference's CAS change counter)."""

    def metric(prev: DataFrame, cur: DataFrame) -> float:
        return float(
            cur.alias("n")
            .join(prev.alias("o"), key)
            .filter(F.col(f"n.{col}") != F.col(f"o.{col}"))
            .count()
        )

    return metric


def l1_diff(key: str, col: str) -> Callable[[DataFrame, DataFrame], float]:
    """Convergence metric: sum of |cur.col - prev.col| (PageRank L1 error)."""

    def metric(prev: DataFrame, cur: DataFrame) -> float:
        v = (
            cur.alias("n")
            .join(prev.alias("o"), key)
            .agg(F.sum(F.abs(F.col(f"n.{col}") - F.col(f"o.{col}"))))
            .collect()[0][0]
        )
        return float(v or 0.0)

    return metric


class FixpointLoop:
    """Run ``step`` on a keyed state DataFrame until convergence."""

    def __init__(
        self,
        name: str,
        step: Callable[[DataFrame, int], DataFrame],
        convergence: Callable[[DataFrame, DataFrame], float] | None,
        max_iterations: int = 200,
        tol: float = 0.0,
        checkpoint_dir: str | None = None,
        epoch_interval: int = 5,
        collect_partition_metrics: bool = False,
        count_rows: bool = False,
        unroll: int = 1,
    ):
        """``convergence=None`` runs exactly ``max_iterations`` steps with no
        per-iteration convergence job (fixed-iteration mode — e.g. unrolled
        PageRank); ``count_rows`` adds a per-iteration state row count to the
        metrics (one extra tiny job).

        ``unroll`` (fixed-iteration mode only, and only without a
        ``checkpoint_dir`` so durable epoch numbering stays per-step):
        chain this many ``step`` applications inside ONE plan between
        eager checkpoints. Each checkpoint is an action plus a full
        materialization barrier; at small per-iteration state sizes the
        barrier dominates the iteration (guide §1.2 — per-task work is
        fine, the job *shape* pays fixed cost per action). Measured on
        sf0.1 PageRank: unroll=2 8.0-10.8 s -> 5.6-6.1 s for 10
        iterations; deeper unrolls lose the win to plan-depth planning
        cost (unroll=10 measured 9.7-10.8 s). Values identical: the same
        power-iteration arithmetic, just fewer materialization points."""
        self.name = name
        self.step = step
        self.convergence = convergence
        self.max_iterations = max_iterations
        self.tol = tol
        self.checkpoint_dir = checkpoint_dir
        self.epoch_interval = epoch_interval
        self.collect_partition_metrics = collect_partition_metrics
        self.count_rows = count_rows
        self.unroll = max(1, unroll)
        self.metrics: list[IterationMetrics] = []
        self.iterations_run = 0

    # -- durable epochs ----------------------------------------------------
    def _epoch_path(self, i: int) -> str:
        return os.path.join(self.checkpoint_dir, f"epoch={i}")

    def latest_epoch(self) -> int | None:
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        best = None
        for entry in os.listdir(self.checkpoint_dir):
            if entry.startswith("epoch="):
                i = int(entry.split("=", 1)[1])
                if os.path.exists(os.path.join(self.checkpoint_dir, entry, "_SUCCESS")):
                    best = i if best is None else max(best, i)
        return best

    def _converged_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "converged.json")

    def converged_epoch(self) -> int | None:
        """The epoch a finished run converged at, if its tolerance covers
        this loop's (a tighter ``tol`` has more steps to run)."""
        path = self._converged_path()
        if not os.path.exists(path):
            return None
        with open(path) as f:
            mark = json.load(f)
        return mark["epoch"] if self.tol >= mark["tol"] else None

    def _write_epoch(self, state: DataFrame, i: int) -> None:
        state.write.mode("overwrite").parquet(self._epoch_path(i))
        with open(os.path.join(self.checkpoint_dir, "metrics.json"), "w") as f:
            json.dump([m.to_dict() for m in self.metrics], f)

    def metrics_to_csv(self, path: str) -> None:
        """Per-iteration (and per-partition, when collected) metrics as CSV —
        the reference's comm-diagnostics sink (Utils.chpl:747-799)."""
        with open(path, "w") as f:
            f.write("iteration,wall_sec,changed,rows,partition,partition_rows\n")
            for m in self.metrics:
                if m.partition_rows:
                    for pid, rows in sorted(m.partition_rows.items()):
                        f.write(
                            f"{m.iteration},{m.wall_sec:.4f},{m.changed},{m.rows},{pid},{rows}\n"
                        )
                else:
                    f.write(f"{m.iteration},{m.wall_sec:.4f},{m.changed},{m.rows},,\n")

    # -- main loop ---------------------------------------------------------
    def run(self, state: DataFrame, resume: bool = True) -> DataFrame:
        spark = state.sparkSession
        start_iter = 0
        # index of the epoch holding the current state, if one does
        written = None
        if resume and self.checkpoint_dir:
            last = self.latest_epoch()
            if last is not None:
                state = spark.read.parquet(self._epoch_path(last))
                if last == self.converged_epoch():
                    # a finished, converged run: its answer, not one more step
                    return state.localCheckpoint(eager=True)
                start_iter = last + 1
                written = last
                # reload pre-crash metrics so the next epoch write doesn't
                # clobber them (self.metrics starts empty in a new process)
                mpath = os.path.join(self.checkpoint_dir, "metrics.json")
                if not self.metrics and os.path.exists(mpath):
                    with open(mpath) as f:
                        self.metrics = [
                            IterationMetrics(
                                iteration=m["iteration"],
                                wall_sec=m["wall_sec"],
                                changed=m["changed"],
                                rows=m["rows"],
                                partition_rows={
                                    int(k): v
                                    for k, v in m.get("partition_rows", {}).items()
                                },
                            )
                            for m in json.load(f)
                        ]

        if (
            self.checkpoint_dir
            and start_iter < self.max_iterations
            and os.path.exists(self._converged_path())
        ):
            os.remove(self._converged_path())  # this run writes new epochs
        state = state.localCheckpoint(eager=True)
        # unroll only applies when there is no per-iteration convergence
        # job to run and no durable per-step epoch contract to honour
        unroll = (
            self.unroll
            if (self.convergence is None and not self.checkpoint_dir)
            else 1
        )
        i = start_iter
        converged = False
        while i < self.max_iterations:
            t0 = time.time()
            k = min(unroll, self.max_iterations - i)
            # Eager localCheckpoint = the single action that materializes
            # this group of k chained steps and truncates lineage.
            nxt = state
            for j in range(k):
                nxt = self.step(nxt, i + j)
            nxt = nxt.localCheckpoint(eager=True)
            changed = self.convergence(state, nxt) if self.convergence else -1.0
            wall = time.time() - t0

            m = IterationMetrics(
                iteration=i + k - 1,
                wall_sec=wall,
                changed=changed,
                rows=nxt.count() if self.count_rows else -1,
            )
            if self.collect_partition_metrics:
                rows = nxt.groupBy(F.spark_partition_id().alias("pid")).count().collect()
                m.partition_rows = {r["pid"]: r["count"] for r in rows}
            self.metrics.append(m)

            state.unpersist()
            state = nxt
            i += k
            self.iterations_run = i - start_iter

            if self.checkpoint_dir and ((i - 1) % self.epoch_interval == 0):
                self._write_epoch(state, i - 1)
                written = i - 1

            if self.convergence and changed <= self.tol:
                converged = True
                break

        # the final state is the epoch of the last iteration run, so a
        # resume with a larger max_iterations continues at the next step;
        # nothing to write when that epoch was just written
        if self.checkpoint_dir and i > 0 and written != i - 1:
            self._write_epoch(state, i - 1)
        if self.checkpoint_dir and converged:
            # a later call with the same checkpoint_dir returns this state
            with open(self._converged_path(), "w") as f:
                json.dump({"epoch": i - 1, "tol": self.tol}, f)
        return state
