"""Workload definitions: which registered queries each workload runs,
at which scale factor, and what one timed operation is.

A workload is a fixed list of operations: plain reads of registered
queries, and (query, sink) pairs that write a query's output through a
sink and read it back. The seed picks the generated input tables and
the order of the operations in each pass, never which operations run,
so that runs with different seeds measure the same work. Every
operation is one Spark action followed by its lineage record from the
installed listener.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

# Execution-heavy queries of bench.py's HEADLINE list: a 4-way join
# chain, the star join with aggregates and top-100, and a text gram
# pass. The whole 20-query list at sf0.1 does not fit one benchmark run
# (its first pass alone takes about a minute on 4 cores), and fewer
# queries run more often give steadier medians.
HEADLINE = [
    "q06_join_4way",
    "q17_q27_shape",
    "tx12_dup_span_profile",
]

# hook_sweep: a fixed stratified subset of the registry, drawn by
# ``calibrate.py --k 7`` from a warm traced sweep of all 188 queries at
# sf0.001 (seed 1): strata are terciles of each query's build share and
# capture share of its wall, so the subset keeps the registry's layer
# mix (build 25% / execute 43% / capture 31% of wall, against the
# registry's 29% / 39% / 31%). Seven is what fits the run budget.
SWEEP = [
    "dq06_freshness_sla",
    "mm01_decode_stub",
    "q44_unique_join",
    "tp03_pack_sequences",
    "tp04_weighted_mixture",
    "tx26_langid_gate",
    "web09_warc_extract",
]

# Three of them are written through a sink and read back instead of
# run through the noop sink, one per sink kind (fixed, so every seed
# writes the same way). web09 has a Python barrier, so its read-back
# lineage may stop below it but never at the sink.
STITCH = [
    ("q44_unique_join", "table"),
    ("tp04_weighted_mixture", "persist"),
    ("web09_warc_extract", "parquet"),
]


@dataclass
class Op:
    """One timed operation: ``build`` makes the DataFrame (the operators
    and sources layers), ``act`` runs its action. ``expect`` names the
    lineage record the action must leave: ``query`` (a plain read run
    through the noop sink) or ``insert`` (a file or table write, with
    ``target`` its output location).
    ``reads_back`` marks reads through a sink written earlier (by the
    op of the same ``query``), whose lineage must reach the base tables
    and whose output must equal the query's."""

    name: str
    query: str
    build: Callable
    act: Callable
    expect: str = "query"
    target: str | None = None
    reads_back: bool = False
    after: Callable | None = None  # untimed clean-up after the op


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Workload:
    name: str
    sf: float
    reads: list[str]
    pairs: list[tuple[str, str]]
    # the timed window is at least this many whole passes (and at least
    # --seconds), so every run measures the same mix; at least 2, since
    # the traced run pairs a traced with an untraced sample of each op.
    # The first pass after the warm-up still runs 10-40% slow per op,
    # so 3 or more keep it out of the per-op medians. hook_sweep's
    # per-op CPU medians settle only with 4 (10 ops, each a few ticks);
    # more would not fit the run budget on a busy host.
    timed_passes: int

    @property
    def queries(self) -> list[str]:
        return self.reads + [q for q, _ in self.pairs]


def make_groups(wl: Workload, spark, sf_dir: str, scratch: str, qs: dict) -> list[list[Op]]:
    """The workload's operations, grouped: a read alone, a (write,
    read-back) pair together so the write always comes first."""
    groups = [
        [Op(name=n, query=n, build=(lambda fn=qs[n]: fn(spark, sf_dir)), act=noop)]
        for n in wl.reads
    ]
    ops = stitch_ops(spark, sf_dir, scratch, qs, wl.pairs)
    return groups + [ops[i:i + 2] for i in range(0, len(ops), 2)]


def stitch_ops(spark, sf_dir: str, scratch: str, qs: dict, pairs) -> list[Op]:
    """For each (query, sink): a write op through the sink, then a read
    op back through it. Sinks: a parquet path, a catalog table or a
    ``.persist()``ed frame."""
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    ops: list[Op] = []
    for q, sink in pairs:
        fn = qs[q]
        tag = f"pb_{q}"
        if sink == "parquet":
            path = os.path.join(scratch, q)
            ops.append(Op(
                name=f"{q}>parquet", query=q, build=(lambda fn=fn: fn(spark, sf_dir)),
                act=(lambda df, p=path: df.write.mode("overwrite").parquet(p)),
                expect="insert", target=path,
            ))
            ops.append(Op(
                name=f"{q}<parquet", query=q, build=(lambda p=path: spark.read.parquet(p)),
                act=noop, reads_back=True,
            ))
        elif sink == "table":
            loc = os.path.join(warehouse.replace("file:", ""), tag)
            ops.append(Op(
                name=f"{q}>table", query=q, build=(lambda fn=fn: fn(spark, sf_dir)),
                act=(lambda df, t=tag: df.write.mode("overwrite").saveAsTable(t)),
                expect="insert", target=loc,
            ))
            ops.append(Op(
                name=f"{q}<table", query=q, build=(lambda t=tag: spark.table(t)),
                act=noop, reads_back=True,
            ))
        elif sink == "persist":
            held: dict = {}

            def build_cached(fn=fn, held=held):
                held["df"] = fn(spark, sf_dir).persist()
                return held["df"]

            def release(held=held):
                df = held.pop("df", None)
                if df is not None:
                    df.unpersist(blocking=True)

            ops.append(Op(
                name=f"{q}>persist", query=q, build=build_cached, act=noop,
            ))
            ops.append(Op(
                name=f"{q}<persist", query=q,
                build=(lambda held=held: held["df"].select(*held["df"].columns)),
                act=noop, reads_back=True, after=release,
            ))
        else:
            raise ValueError(f"unknown sink {sink!r}")
    return ops


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="headline_sf01",
            sf=0.1,
            reads=HEADLINE,
            pairs=[],
            timed_passes=3,
        ),
        Workload(
            name="hook_sweep",
            sf=0.001,
            reads=[q for q in SWEEP if q not in dict(STITCH)],
            pairs=STITCH,
            timed_passes=4,
        ),
    )
}
