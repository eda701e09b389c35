"""The benchmark's workloads: which public calls a pass makes, on which
fixture, and how each output is checked.

Every operation is one call into the engine's public surface, a
``__spark_entry__`` query function, whose result goes through
``GenericSink.write``. The benchmark's traced mode records a span for
each step of an operation:

* ``prepare``: removal of the previous pass's output;
* ``build``: the call that returns the lazy frame, including any Spark
  actions the engine takes while it builds the plan;
* ``execute``: the sink write (traced mode plans the frame first, in a
  ``plan`` span, to read Catalyst's phase times);
* ``cleanup``: release of the operator's cached intermediates.
"""
from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame

from . import checks


@dataclass
class Context:
    """What an operation needs: the session, the engine's driver module,
    the fixture and output directories, and the sink factory the runner
    supplies (untraced, or recording spans)."""
    spark: object
    entry: object
    fixture_dir: str
    out_dir: str
    make_sink: object   # path -> GenericSink

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


@dataclass(frozen=True)
class QueryOp:
    """A driver query function, its result written to a parquet sink
    under ``ctx.out(name)``."""
    name: str
    layer: str            # whose driver code builds the plan

    def prepare(self, ctx: Context) -> None:
        shutil.rmtree(ctx.out(self.name), ignore_errors=True)

    def build(self, ctx: Context) -> DataFrame:
        return ctx.entry.queries()[self.name](ctx.spark, ctx.fixture_dir)

    def execute(self, ctx: Context, df: DataFrame) -> None:
        ctx.make_sink(ctx.out(self.name)).write(df)


def _oracle_checks(ctx: Context, con, ops) -> dict:
    oracles = ctx.entry.oracle_sql()
    return {op.name: checks.oracle_check(con, ctx.out(op.name),
                                         oracles[op.name])
            for op in ops if op.name in oracles}


def _floor_check(value: float, floor: float, what: str):
    return None if value >= floor else f"{what} {value:.3f} < floor {floor}"


def check_pit_join(ctx: Context, con, ops) -> dict:
    return _oracle_checks(ctx, con, ops)


def check_iterative(ctx: Context, con, ops) -> dict:
    """Oracles where they exist; the approximate PQ top-k by its recall@5
    at the floor its gate query ``ann_pq_recall`` uses."""
    res = _oracle_checks(ctx, con, ops)
    res["ann_pq_topk"] = _floor_check(
        checks.topk_recall(con, ctx.out("ann_pq_topk"), queries=20, k=5),
        ctx.entry.PQ_RECALL_FLOOR, "recall@5")
    return res


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple
    check: object
    scale: float          # fixture rows relative to sf0.1
    corpus_scale: float   # documents / embeddings rows relative to sf0.1


# why each workload was chosen is recorded in BENCHMARK.json
WORKLOADS = {w.name: w for w in (
    Workload(
        name="pit_join",
        ops=(QueryOp("window_agg_basic", "project"),
             QueryOp("multi_key_window", "project"),
             QueryOp("asof_join", "operators")),
        check=check_pit_join, scale=0.1, corpus_scale=0.05),
    Workload(
        name="iterative",
        ops=(QueryOp("ann_pq_topk", "operators"),),
        check=check_iterative, scale=0.01, corpus_scale=0.5),
)}
