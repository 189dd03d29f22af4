"""Measured closure scale curve: the same transitive-closure job at 1x
and 10x input, so the "right plan at 100x" claim for the suite's most
expensive stage rests on a recorded curve, not extrapolation.

Input: the sf0.1 fixture BOM edge set (the bench's closure stage uses
its mod-20 subgraph; here the FULL edge set is the 1x point). Two 10x
shapes probe the two ways a corpus grows:

- breadth 10x: ten disjoint prefix-renamed copies — component count
  grows 10x, diameter unchanged. Delta path-doubling's round count must
  stay FLAT and wall time grow ~linearly (each round's join is 10x
  wider but the same depth).
- depth 10x: ten copies chained root-under-leaf — diameter ~10x.
  Doubling's rounds must grow by ~log2(10) ≈ +3-4, NOT 10x (the
  semi-naive form pays 10x the rounds here, which is why doubling is
  the default).

Every shape is timed on both arms of ``graph.transitive_closure``'s size
rule. All three inputs are below ``CLOSURE_BROADCAST_MAX_ROWS``, so the
script moves the bound around each call (``tests.util.closure_on_arm``):
one above the input's distinct edge count for the broadcast pass, equal
to it for the doubling loop, which then runs as on any input at or above
the bound (its first frontier, the edge set, is shuffled; smaller
frontiers are broadcast). The two arms' curves are the evidence behind
the bound.

``--above-bound`` runs shapes at and above the bound's 1M distinct
edges instead, on both arms: 60 disjoint copies of the edge set (1.1M
edges, ~61 pairs per edge) and two bigint 8-ary trees (1.2M and 2.4M
edges, ~7 pairs per edge: the per-edge costs of collecting and
broadcasting the adjacency weigh most there). Each row also records the
peak resident memory of the driver's Python process, of the JVM and of
the Python workers (summed over the worker processes, so pages a forked
worker shares with its daemon count more than once). A 60x *chain* is
left out: bridging 60 copies gives ~10^9 pairs.

Usage: python scripts/closure_scale_curve.py [sf_dir] [out_json] [--above-bound]
Writes one JSON blob (per arm and shape: edges, pairs, rounds, delta
sizes, seconds, peak RSS) — recorded to BENCH_closure_curve.json (and
the ``--above-bound`` run to BENCH_closure_bound.json) and summarized in
BASELINE.md. Seconds include the ``stats`` counts: one extra full pass
for the broadcast arm, one count per round for the doubling loop.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from functools import partial, reduce

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge import fixtures, graph
from kgforge.session import get_spark
from tests.util import closure_on_arm


def replicate(edges: DataFrame, copies: int) -> DataFrame:
    parts = [
        edges.select(
            F.concat(F.lit(f"c{i}-"), F.col("parent")).alias("parent"),
            F.concat(F.lit(f"c{i}-"), F.col("child")).alias("child"),
        )
        for i in range(copies)
    ]
    return reduce(DataFrame.unionByName, parts)


def chain(edges: DataFrame, copies: int) -> DataFrame:
    """Replicas plus bridge edges: a leaf of copy i adopts the root of
    copy i+1, multiplying the diameter by ~copies."""
    rep = replicate(edges, copies)
    roots = edges.select("parent").subtract(edges.select(F.col("child").alias("parent")))
    leaves = edges.select("child").subtract(edges.select(F.col("parent").alias("child")))
    one_root = roots.orderBy("parent").limit(1).first()["parent"]
    one_leaf = leaves.orderBy("child").limit(1).first()["child"]
    spark = edges.sparkSession
    bridges = spark.createDataFrame(
        [(f"c{i}-{one_leaf}", f"c{i + 1}-{one_root}") for i in range(copies - 1)],
        "parent string, child string",
    )
    return rep.unionByName(bridges)


def tree(spark, n_edges: int) -> DataFrame:
    """A complete 8-ary tree over bigint labels 0..n_edges."""
    ids = spark.range(1, n_edges + 1)
    return ids.select(F.expr("id div 8").alias("parent"), F.col("id").alias("child"))


def _rss_mb() -> dict:
    """Resident MB of this process, its JVM and its Python workers."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/status") as f:
                rss = next(int(l.split()[1]) for l in f if l.startswith("VmRSS:"))
        except (OSError, StopIteration, ValueError, IndexError):
            continue
        procs[int(pid)] = (ppid, cmd, rss / 1024)
    me = os.getpid()
    out = {"driver_mb": procs.get(me, (0, b"", 0.0))[2], "jvm_mb": 0.0, "workers_mb": 0.0}
    seen, todo = {me}, [me]
    while todo:
        parent = todo.pop()
        for pid, (ppid, cmd, rss) in procs.items():
            if ppid == parent and pid not in seen:
                seen.add(pid)
                todo.append(pid)
                out["jvm_mb" if b"java" in cmd else "workers_mb"] += rss
    return out


class PeakRss:
    """Samples :func:`_rss_mb` every 0.2 s while open; ``peak`` holds the
    per-class maxima."""

    def __enter__(self):
        self.peak = _rss_mb()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def _sample(self):
        while not self._stop.wait(0.2):
            for k, v in _rss_mb().items():
                self.peak[k] = max(self.peak[k], v)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def run(name: str, fn, edges: DataFrame) -> dict:
    n_edges = edges.count()
    stats: dict = {}
    with PeakRss() as mem:
        t0 = time.perf_counter()
        closure = fn(edges, stats=stats)
        n_pairs = closure.count()
        secs = round(time.perf_counter() - t0, 2)
    row = {
        "edges": n_edges,
        "pairs": n_pairs,
        "seconds": secs,
        "rounds": stats.get("rounds"),
        "delta_sizes": stats.get("delta_sizes"),
        "peak_rss_mb": {k: round(v) for k, v in mem.peak.items()},
    }
    print(json.dumps({name: row}), flush=True)
    return row


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--above-bound"]
    above = len(args) < len(sys.argv) - 1
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    default_out = "BENCH_closure_bound.json" if above else "BENCH_closure_curve.json"
    out_path = args[1] if len(args) > 1 else os.path.join(os.path.dirname(__file__), "..", default_out)
    # above the bound, 4 cores: one Python worker per core holds a copy of
    # the broadcast adjacency
    cores = 4 if above else 8
    spark = get_spark("closure-curve", cores=cores, shuffle_partitions=8)

    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    from kgforge import linking
    from kgforge.extract import extract_mentions

    edges = (
        graph.bom_edges_from_linked(linking.link_mentions(extract_mentions(t), e))
        # the bench's closure-stage subgraph: long chains, low density
        .filter((F.col("parent").cast("bigint") + F.col("child").cast("bigint")) % 20 == 0)
        .localCheckpoint(eager=True)
    )

    result = {"sf_dir": sf_dir, "cores": cores}
    if above:
        shapes = {
            "60x_breadth": replicate(edges, 60),
            "tree_1.2M": tree(spark, 1_200_000),
            "tree_2.4M": tree(spark, 2_400_000),
        }
    else:
        shapes = {
            "1x": edges,
            "10x_breadth": replicate(edges, 10),
            "10x_depth": chain(edges, 10),
        }
    for shape, shape_edges in shapes.items():
        for arm in ("broadcast", "doubling"):
            name = f"{arm}_{shape}"
            result[name] = run(name, partial(closure_on_arm, arm=arm), shape_edges)
    if not above:
        result["seminaive_1x"] = run(
            "seminaive_1x", graph.transitive_closure_seminaive, edges
        )
        result["seminaive_10x_breadth"] = run(
            "seminaive_10x_breadth", graph.transitive_closure_seminaive, replicate(edges, 10)
        )

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"written": out_path}))


if __name__ == "__main__":
    main()
