"""Calibration sweep behind the ``hook_sweep`` query list.

Runs every registered query at sf0.001 on generated inputs, the way
``run.py`` does (tracker installed, closed loop, noop sink): one checked
cold pass against the DuckDB oracle, one untimed warm pass, then
``--passes`` traced passes. For each query it records the per-layer
medians (build, execute, capture, analyze, lag), then draws a fixed
stratified subset of ``--k`` queries:

- strata are the terciles of the per-query build share and capture
  share of the query's wall (query + lineage lag), 3 x 3 cells;
- each cell gets seats in proportion to its size (largest remainder);
- inside a cell, queries are ordered by wall and taken at evenly
  spaced ranks, so the subset keeps the cell's cost spread.

Queries that fail the output or lineage check are listed and left out
of the draw, and so are those in ``TOO_COLD``. The subset's layer totals, scaled by N/k, are printed next
to the registry's so the two mixes can be compared.

Usage::

    python3 perfbench/calibrate.py --seed 1 --k 7 --json sweep.json
    python3 perfbench/calibrate.py --k 7 --from sweep.json   # re-draw only
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys

import run
from workloads import Workload

SF = 0.001
LAYERS = ("build", "execute", "capture", "analyze", "lag", "wall")
# Left out of the draw (they stay in the registry totals): a run's
# checked cold pass must fit its time budget, and this query's first
# run alone takes 17-21 s on 4 cores (it builds the dd02 pair index and
# iterates the cluster labels), against about 0.5 s warm.
TOO_COLD = {"dd08_dup_clusters"}


def measure(seed: int, passes: int) -> dict:
    """{query: {layer: median seconds, "problem": str|None}}."""
    sys.path.insert(0, run.ROOT)
    import __spark_entry__ as entry

    args = argparse.Namespace(seed=seed, trace=1)
    run_dir = os.path.join(run.WORK, f"calibrate-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl = Workload(name="registry", sf=SF, reads=sorted(entry.queries()), pairs=[], timed_passes=0)
    b = run.Bench(args, run_dir)
    run.spark_env(run_dir)
    try:
        b.prepare_inputs(wl)
        b.start(wl)
        try:
            b.install_tracing()
            problems = b.check_outputs(b.verify_pass())
            ops = [op for g in b.groups for op in g]
            rng = random.Random(seed)
            samples: dict[str, list] = {}
            for p in range(passes + 1):
                rng.shuffle(ops)
                for op in ops:
                    s = b.run_op(op, len(b.ran), traced=p > 0)
                    b.ran.append(op.name)
                    if s.error or s.lineage_error:
                        problems.setdefault(op.name, s.error or s.lineage_error)
                    elif p > 0:
                        samples.setdefault(op.name, []).append(s)
        finally:
            b.tracer.restore()
            run.stop_spark(b.spark)
    finally:
        run.remove_run_files(run_dir, SF)
    out = {}
    for name in wl.reads:
        ss = samples.get(name, [])
        row = {"problem": problems.get(name)}
        if ss:
            med = lambda f: statistics.median(f(s) for s in ss)  # noqa: E731
            row.update(
                build=med(lambda s: s.layers["operators.build_s"]),
                execute=med(lambda s: s.query_s - s.layers["operators.build_s"]),
                capture=med(lambda s: s.layers["capture.s"]),
                analyze=med(lambda s: s.layers["analyze.s"]),
                lag=med(lambda s: s.lag_s),
                wall=med(lambda s: s.query_s + s.lag_s),
            )
        out[name] = row
    return out


def _terciles(xs: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(xs, n=3)
    return q[0], q[1]


def draw(rows: dict, k: int) -> list[str]:
    """Stratified subset of ``k`` queries (see the module docstring)."""
    ok = {n: r for n, r in rows.items() if r["problem"] is None and "wall" in r and n not in TOO_COLD}
    share = {n: (r["build"] / r["wall"], r["capture"] / r["wall"]) for n, r in ok.items()}
    cb = _terciles([b for b, _ in share.values()])
    cc = _terciles([c for _, c in share.values()])
    cell: dict[tuple[int, int], list[str]] = {}
    for n, (b, c) in share.items():
        key = (sum(b > x for x in cb), sum(c > x for x in cc))
        cell.setdefault(key, []).append(n)
    quota = {key: k * len(ns) / len(ok) for key, ns in cell.items()}
    seats = {key: int(q) for key, q in quota.items()}
    for key in sorted(quota, key=lambda key: (seats[key] - quota[key], key))[: k - sum(seats.values())]:
        seats[key] += 1
    chosen = []
    for key in sorted(cell):
        ns = sorted(cell[key], key=lambda n: (ok[n]["wall"], n))
        m = seats[key]
        chosen += [ns[int((i + 0.5) * len(ns) / m)] for i in range(m)]
    return sorted(chosen)


def compare(rows: dict, chosen: list[str]) -> None:
    ok = [n for n, r in rows.items() if r["problem"] is None and "wall" in r]
    scale = len(ok) / len(chosen)
    print(f"{'layer':10s} {'registry s':>11s} {'share':>6s} {'subset x N/k':>13s} {'share':>6s}")
    tot = {lay: sum(rows[n][lay] for n in ok) for lay in LAYERS}
    sub = {lay: scale * sum(rows[n][lay] for n in chosen) for lay in LAYERS}
    for lay in LAYERS:
        print(f"{lay:10s} {tot[lay]:11.2f} {tot[lay] / tot['wall']:6.3f} "
              f"{sub[lay]:13.2f} {sub[lay] / sub['wall']:6.3f}")
    print(f"build:capture  registry {tot['build'] / tot['capture']:.2f}  "
          f"subset {sub['build'] / sub['capture']:.2f}")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--k", type=int, default=7)
    p.add_argument("--json", help="write the per-query measurements here")
    p.add_argument("--from", dest="src", help="re-draw from saved measurements")
    a = p.parse_args(argv)
    if a.src:
        with open(a.src) as fh:
            rows = json.load(fh)
    else:
        rows = measure(a.seed, a.passes)
        if a.json:
            with open(a.json, "w") as fh:
                json.dump(rows, fh, indent=1)
    for n, r in sorted(rows.items()):
        if r["problem"]:
            print(f"CHECK FAILED  {n}: {r['problem']}")
    chosen = draw(rows, a.k)
    for n in chosen:
        r = rows[n]
        print(f"  {n:34s} wall {r['wall']:6.3f}  build {r['build']:6.3f}  "
              f"capture {r['capture']:6.3f}  execute {r['execute']:6.3f}")
    compare(rows, chosen)
    print(json.dumps(chosen))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
