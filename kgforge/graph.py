"""Hierarchy / graph operators (SURVEY.md §2.3 J4-J9, §2.4 G1-G8).

The expensive pieces — connected components, and the transitive
closure of an edge set too large for one broadcast pass — are
driver-side fixpoint loops over DataFrame joins with
``localCheckpoint()`` per iteration to cut lineage (SURVEY §4.3): the
distributed replacement for the reference's recursive Python DFS
(/root/reference/src/utils/spreadsheet_loader.py:980-1024).
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _fixpoint_partitions(spark, n_rows: int, rows_per_partition: int = 10_000) -> int:
    """Shuffle-partition count for a fixpoint loop, derived from the
    input size: each round is a small shuffle, so at fixture scale the
    session's corpus-sized setting (e.g. 32) pays more task-scheduling
    overhead than compute (measured 2x closure wall time at sf0.1).
    Never exceeds the session conf (the cluster-parallelism proxy), so
    at 100x input the loop still fans out fully."""
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(8, min(configured, n_rows // rows_per_partition + 1))


@contextmanager
def _constraint_propagation_off(
    spark, shuffle_partitions: int | None = None, aqe_off: bool = True
):
    """Loop-scoped planner confs for driver-side fixpoint iterations.

    - constraintPropagation off: Catalyst's Union constraint rewrite
      hits a NoSuchElementException (key not found: attr) when unioning
      localCheckpoint'ed plans with reused attribute ids (observed on
      Spark 4.1), and constraint propagation buys nothing inside a
      fixpoint loop.
    - AQE off (``aqe_off=True``, the small-input default): every round
      is a fresh small plan over already-known sizes; adaptive
      re-optimization between the per-round stages is pure driver
      latency (measured ~20-30% of closure wall time at sf0.1) with
      nothing to re-plan. Callers whose fixpoint input is large enough
      to use the session's full shuffle parallelism pass
      ``aqe_off=False`` to keep AQE's skew-join splitting on hub keys —
      at cluster scale the per-round driver latency is dwarfed by a
      skewed reducer.
    """
    keys = {
        "spark.sql.constraintPropagation.enabled": "false",
    }
    if aqe_off:
        keys["spark.sql.adaptive.enabled"] = "false"
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    prev = {k: spark.conf.get(k, "true") for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# ------------------------------------------------------------------ edges
def bom_edges_from_linked(linked: DataFrame) -> DataFrame:
    """Assemble (parent, child) number edges from linked mention rows:
    a turn contributes an edge when BOTH its 'parent' and 'ref' slots
    resolved (reference resolve_edges_by_name :1072-1076 — an edge
    drops unless both ends resolve to exactly one number). Self-loops
    removed (validation.py:267-280); distinct (edge dedup :1221)."""
    per_turn = linked.groupBy("conv_id", "turn_idx").agg(
        F.max(F.when((F.col("slot") == "ref") & (F.col("status") == "resolved"), F.col("resolved_number"))).alias("child"),
        F.max(F.when((F.col("slot") == "parent") & (F.col("status") == "resolved"), F.col("resolved_number"))).alias("parent"),
    )
    return (
        per_turn.filter(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates(["parent", "child"])
    )


def bom_edges_direct(
    transcripts: DataFrame,
    entities: DataFrame,
    index: DataFrame | None = None,
    numbers: DataFrame | None = None,
) -> DataFrame:
    """Edge assembly without the per-mention pivot shuffle: extract both
    slots as *columns* of one row per turn, resolve each against the
    broadcast dictionary (two map-side joins per slot), keep turns where
    both ends resolve.

    Identical output to ``bom_edges_from_linked(link_mentions(...))``
    (pytest-asserted) but a fundamentally better physical plan at
    corpus scale: the mention-row path must shuffle one row per mention
    keyed by (conv_id, turn_idx) — keys unique per row, so map-side
    combine removes nothing and the shuffle is corpus-proportional
    (8.4M rows at the sf0.1 bench). Here the only shuffle is the final
    dropDuplicates on (parent, child), whose low key cardinality lets
    the partial hash aggregate collapse each partition to the distinct
    edge set before anything crosses the wire.
    """
    from kgforge.extract import PARENT_PATTERN, REF_PATTERN
    from kgforge.linking import build_name_index
    from kgforge.normalize import normalize_number_col

    if index is None:
        index = build_name_index(entities)
    if numbers is None:
        numbers = entities.select(F.col("number").alias("known_number")).distinct()

    t = transcripts.select(
        F.regexp_extract("text", REF_PATTERN, 1).alias("ref_m"),
        F.regexp_extract("text", PARENT_PATTERN, 1).alias("par_m"),
    ).filter((F.col("ref_m") != "") & (F.col("par_m") != ""))

    def resolve(df: DataFrame, col: str, out: str) -> DataFrame:
        idx = index.select(
            F.col("name").alias(f"{out}_name"), F.col("candidates").alias(f"{out}_cands")
        )
        kn = numbers.select(F.col("known_number").alias(f"{out}_kn"))
        df = df.join(F.broadcast(idx), df[col] == idx[f"{out}_name"], "left")
        df = df.join(
            F.broadcast(kn),
            normalize_number_col(df[col]) == kn[f"{out}_kn"],
            "left",
        )
        resolved = F.when(
            F.col(f"{out}_cands").isNotNull() & (F.size(f"{out}_cands") == 1),
            F.col(f"{out}_cands")[0],
        ).when(F.col(f"{out}_cands").isNull(), F.col(f"{out}_kn"))
        return df.withColumn(out, resolved).drop(f"{out}_name", f"{out}_cands", f"{out}_kn")

    t = resolve(t, "ref_m", "child")
    t = resolve(t, "par_m", "parent")
    return (
        t.filter(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates(["parent", "child"])
    )


def reverse_edges(edges: DataFrame) -> DataFrame:
    """G3 usedIn: pure projection (build_used_in_triples :963-977)."""
    return edges.select(F.col("child").alias("parent"), F.col("parent").alias("child"))


class ClosureNotConverged(RuntimeError):
    """Raised when a fixpoint loop exhausts max_iterations — silent
    truncation would drop the longest-path pairs (caught live: a
    64-iteration cap lost 37 deep pairs at sf0.1)."""


# The closure's size rule, on the count of distinct input edges: below it
# the edge set is collected and walked in one broadcast pass; at or above
# it the doubling loop runs, and broadcasts its frontier only while the
# frontier is under the same bound (a frontier row is (p, c, dist), 3
# longs: ~40 MB framed at 1M rows).
#
# For the broadcast pass the bound is a memory cap, not a speed
# crossover: the driver collects the edges as Arrow and builds per-node
# Python adjacency lists, and every Python worker unpickles its own copy
# of them plus the label array. Measured on 4 cores
# (BENCH_closure_bound.json): the pass beat doubling on every input up to
# 2.4M edges (1.7-14x), while the driver's Python process peaked at
# 0.47 GB at 1.1M edges and 0.76 GB at 2.4M, and the four workers at
# 1.24 and 1.88 GB together. The doubling loop is kept for edge sets too
# large to copy into every worker; where between 2.4M edges and that
# limit the cap is best set is unmeasured.
CLOSURE_BROADCAST_MAX_ROWS = int(
    __import__("os").environ.get("KGFORGE_CLOSURE_BCAST_ROWS", "1000000")
)


# ------------------------------------------------------------------ closure
def transitive_closure(
    edges: DataFrame, max_iterations: int = 24, stats: dict | None = None
) -> DataFrame:
    """G4: all reachable (ancestor, descendant) pairs, by one of two
    arms chosen from the number of distinct edges, which the castability
    probe below counts anyway:

    - below :data:`CLOSURE_BROADCAST_MAX_ROWS`
      (:func:`_closure_broadcast`): the edge set is collected once, its
      adjacency broadcast, and every source's reachable set walked in one
      Arrow-batched Python pass over ``defaultParallelism`` source
      slices — a fixed handful of jobs, where the loop pays several jobs
      per round (a 24-deep BOM: 5 rounds, 41 jobs);
    - at or above it (:func:`_closure_doubling`): exact-prefix delta
      path doubling over dense long ids, ceil(log2(diameter)) rounds of
      distributed joins, for edge sets too large to hold on the driver.

    Both arms have the reference DFS's semantics (:980-1024), pinned
    against each other by tests: every (ancestor, descendant) pair with a
    path of >= 1 edge; cycles converge, and a node on a cycle gets its
    self-pair (A->B->A yields (A,A)). Pairs are oriented (parent, child);
    the partOfAssembly triple emitter flips them. Edges with a NULL
    endpoint are preserved as pairs and a NULL child propagates to its
    ancestors, but NULL never joins through — exactly the old
    string-keyed equi-join behavior. Output column types equal the
    input's.

    ``stats`` (optional dict) records the arm taken as ``variant``
    (``"broadcast"`` or ``"doubling"``), ``rounds`` (1 for the broadcast
    pass) and ``delta_sizes``, the new pairs per round
    (``len(delta_sizes) == rounds``), for scale-curve evidence
    (scripts/closure_scale_curve.py). Costs one count per round; leave
    None in production.
    """
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        # lazy: the castability probe just below is the materializing
        # action — checkpoint + probe are one job
        base = edges.select("parent", "child").dropDuplicates().localCheckpoint(eager=False)

        # Encode node labels as longs for the doubling loop (guide §2.3
        # narrower types). Fast path: when every non-null label
        # round-trips exactly through a bigint cast (string(bigint(x)) ==
        # x — checked in ONE aggregate over the materialized base), the
        # encoding is a pure cast projection and the decode a cast back.
        def _bad(col: str):
            c = F.col(col)
            rt = c.try_cast("bigint").cast("string")  # try_cast: ANSI-safe probe
            return F.max(
                F.when(c.isNotNull() & (rt.isNull() | (rt != c)), F.lit(1)).otherwise(0)
            )

        # the probe agg also carries count(*), the size rule's input and
        # the castable loop's entry count
        chk = base.agg(
            _bad("parent").alias("bp"), _bad("child").alias("bc"), F.count("*").alias("n")
        ).first()
    n_base = int(chk["n"] or 0)
    if n_base < CLOSURE_BROADCAST_MAX_ROWS:
        closure = _closure_broadcast(base, edges.schema)
        if stats is not None:
            stats.update(variant="broadcast", rounds=1, delta_sizes=[closure.count()])
        return closure
    if stats is not None:
        stats["variant"] = "doubling"
    castable = (chk["bp"] or 0) == 0 and (chk["bc"] or 0) == 0
    return _closure_doubling(base, castable, n_base, edges.schema, max_iterations, stats)


def _closure_broadcast(base: DataFrame, schema) -> DataFrame:
    """Closure of a driver-sized edge set in one pass. ``base`` is the
    deduplicated (parent, child) frame, already materialized.

    The edges are collected once as Arrow and dictionary-encoded to dense
    ids on the driver; the adjacency lists and the id -> label array are
    broadcast (the small side replicated to every worker, as a broadcast
    hash join does). One ``mapInArrow`` task per ``defaultParallelism``
    slice walks the sources of its slice (every ``n_slices``-th source,
    so deep and shallow roots spread over the tasks) depth-first and
    decodes the pairs back to the input's own Arrow labels — no cast
    round trip, so the output types equal the input's, a bigint column
    holding NULLs included. Each task yields its pairs in batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.

    NULL: a walk starts from every node with out-edges, NULL included,
    and emits a NULL it reaches, but never walks on from a NULL it
    reached — the doubling arm's NULL-never-joins semantics. Each source
    marks what it reached with its own id, so a pair is emitted once and
    a cycle back to the source yields its self-pair.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructType

    spark = base.sparkSession
    tbl = base.toArrow()
    parent = tbl.column("parent").combine_chunks()
    child = tbl.column("child").combine_chunks()
    nodes = pc.unique(pa.concat_arrays([parent, child]))
    p = pc.index_in(parent, value_set=nodes, skip_nulls=False).to_numpy()
    c = pc.index_in(child, value_set=nodes, skip_nulls=False).to_numpy()
    null_ids = np.flatnonzero(nodes.is_null().to_numpy(zero_copy_only=False))
    null_id = int(null_ids[0]) if len(null_ids) else -1
    # CSR by parent, as per-node Python lists: the walk indexes them per
    # visited node, where numpy scalar indexing would cost more than the
    # visit itself
    out_degree = np.bincount(p, minlength=len(nodes))
    bounds = np.concatenate(([0], np.cumsum(out_degree))).tolist()
    flat = c[np.argsort(p, kind="stable")].tolist()
    adj = [flat[bounds[i] : bounds[i + 1]] for i in range(len(nodes))]
    sources = np.flatnonzero(out_degree).tolist()
    shared = spark.sparkContext.broadcast((adj, sources, null_id, nodes))
    n_slices = spark.sparkContext.defaultParallelism
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if batch <= 0:  # the conf's "unlimited"; the walk still bounds its batches
        batch = 10_000

    def walk(slices):
        adj, sources, null_id, nodes = shared.value

        def emit(ps, cs):
            return pa.RecordBatch.from_arrays(
                [nodes.take(pa.array(ps, pa.int64())), nodes.take(pa.array(cs, pa.int64()))],
                names=["parent", "child"],
            )

        mark = [-1] * len(adj)
        ps: list[int] = []
        cs: list[int] = []
        for ids in slices:
            for i in ids.column(0).to_pylist():
                for s in sources[i::n_slices]:
                    n0 = len(cs)
                    todo = list(adj[s])
                    while todo:
                        v = todo.pop()
                        if mark[v] != s:
                            mark[v] = s
                            cs.append(v)
                            if v != null_id:
                                todo.extend(adj[v])
                    ps.extend([s] * (len(cs) - n0))
                    while len(cs) >= batch:
                        yield emit(ps[:batch], cs[:batch])
                        del ps[:batch], cs[:batch]
        if cs:
            yield emit(ps, cs)

    out_schema = StructType([schema["parent"], schema["child"]])
    return spark.range(n_slices, numPartitions=n_slices).mapInArrow(walk, out_schema)


def _closure_doubling(
    base: DataFrame,
    castable: bool,
    n_base: int,
    schema,
    max_iterations: int,
    stats: dict | None,
) -> DataFrame:
    """Closure of an edge set at or above the size bound —
    **exact-prefix** delta path-doubling: covered path lengths double
    each round (convergence in ceil(log2(diameter)) iterations), and each
    round joins only the pairs at shortest distance *exactly* 2^k against
    the closure. ``base`` is the deduplicated, materialized edge frame;
    ``castable`` says every label round-trips through bigint.

    Correctness: let C_k = pairs at shortest distance <= 2^k and
    X_k = pairs at distance exactly 2^k. A shortest path of length
    L in (2^k, 2^(k+1)] splits at position 2^k into a prefix that is
    itself a shortest path of length exactly 2^k (subpaths of shortest
    paths are shortest, so the prefix pair is in X_k) and a suffix of
    length L - 2^k <= 2^k (in C_k). Hence C_(k+1) = C_k ∪ (X_k ∘ C_k),
    and the min over witnesses of (2^k + suffix_dist) for a new pair is
    exactly its shortest distance, so X_(k+1) is read off the new
    pairs' dist column. Restricting the left side from the previous
    round's whole delta D_k (distances (2^(k-1), 2^k]) to X_k is the
    r6 blowup fix: the D_k ∘ C_k witness intermediate measured 89M
    pre-dedup rows for a 1.12M-pair closure (80x redundancy, 60M in one
    round); X_k ∘ C_k with per-pair min-dist dedup cut the loop 2.4x
    (guide §3.3 — an exploding join is a plan problem, shrink the side
    that multiplies).

    Loop hygiene (measured, same round-6 pass):

    - node ids: endpoints are encoded to dense longs before the loop and
      decoded after (guide §2.3 "narrower types" — string join keys were
      the per-row constant everywhere in the loop): a cast when
      ``castable``, else a dictionary via monotonically_increasing_id;
    - the frontier X_k is tiny relative to the closure (the exact-2^k
      distance class), so while its measured count stays under
      :data:`CLOSURE_BROADCAST_MAX_ROWS` it is broadcast and the
      closure is NOT shuffled for the grow join (guide §3.1 — pick the
      strategy from known runtime sizes, not estimates);
    - termination is X_k = ∅, one round earlier than the old
      delta-empty check: if any pair had distance > 2^k its exact-2^k
      prefix would exist, so an empty exact class proves completeness;
    - AQE stays ON at the session's parallelism: with the frontier
      broadcast the per-round shuffles are the min-dist aggregate and
      the anti-join, where runtime coalescing/skew-splitting measured
      faster than the r5 fixed-8-partition/AQE-off configuration.

    The anti-join against the closure keeps the loop monotone, so cycles
    converge. 2^24 path length is unreachable in practice; hitting the
    cap raises instead of silently truncating (a 64-round semi-naive cap
    once lost the 37 deepest pairs at sf0.1).
    """
    spark = base.sparkSession
    with _constraint_propagation_off(spark):
        if castable:
            null_id = None
            p_dict = c_dict = None
            e = (
                base.select(
                    F.col("parent").cast("bigint").alias("p"),
                    F.col("child").cast("bigint").alias("c"),
                )
                .withColumn("dist", F.lit(1).cast("long"))
            )
        else:
            nodes = (
                base.select(F.col("parent").alias("node"))
                .unionByName(base.select(F.col("child").alias("node")))
                .dropDuplicates()
            )
            # lazy: the null-id collect below materializes it. The ids
            # must still come from ONE materialization (the checkpoint
            # freezes monotonically_increasing_id) — lazy only moves
            # which job does it.
            ids = nodes.withColumn("id", F.monotonically_increasing_id()).localCheckpoint(
                eager=False
            )
            # one fused job: materializes the checkpoint, sizes the
            # dictionary AND finds the (at most one) NULL node's id
            id_row = ids.agg(
                F.count("*").alias("n"),
                F.max(F.when(F.col("node").isNull(), F.col("id"))).alias("null_id"),
            ).first()
            null_id = id_row["null_id"]
            n_ids = int(id_row["n"] or 0)
            small_ids = n_ids < CLOSURE_BROADCAST_MAX_ROWS
            p_ids = ids.select(F.col("node").alias("parent"), F.col("id").alias("p"))
            c_ids = ids.select(F.col("node").alias("child"), F.col("id").alias("c"))
            p_dict = F.broadcast(p_ids) if small_ids else p_ids
            c_dict = F.broadcast(c_ids) if small_ids else c_ids
            e = (
                base.join(p_dict, base["parent"].eqNullSafe(p_ids["parent"]), "left")
                .join(c_dict, base["child"].eqNullSafe(c_ids["child"]), "left")
                .select("p", "c")
                .withColumn("dist", F.lit(1).cast("long"))
                # lazy: the loop-entry count materializes it
                .localCheckpoint(eager=False)
            )
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _constraint_propagation_off(spark, configured, aqe_off=False):
        closure = e
        exact = e
        # castable: |e| came with the probe agg; dictionary path: this
        # count is e's checkpoint-materializing action (fused)
        n_exact = n_base if castable else e.count()
        delta_sizes: list[int] = []
        for i in range(max_iterations):
            lhs = (
                F.broadcast(exact)
                if 0 < n_exact < CLOSURE_BROADCAST_MAX_ROWS
                else exact
            )
            joinable = (
                F.col("l.c") == F.col("r.p")
                if null_id is None
                else (F.col("l.c") == F.col("r.p")) & (F.col("r.p") != F.lit(null_id))
            )
            grown = (
                lhs.alias("l")
                .join(closure.alias("r"), joinable)
                .select(
                    F.col("l.p").alias("p"),
                    F.col("r.c").alias("c"),
                    (F.col("l.dist") + F.col("r.dist")).alias("dist"),
                )
                .groupBy("p", "c")
                .agg(F.min("dist").alias("dist"))
            )
            # null-safe keys: on the cast path a NULL label stays NULL, and
            # a plain equi-join would re-add its pairs in later rounds.
            # lazy: the frontier count below (or the stats count) is the
            # materializing action — one driver job per round, not two
            seen = F.col("g.p").eqNullSafe(F.col("k.p")) & F.col("g.c").eqNullSafe(F.col("k.c"))
            new = (
                grown.alias("g")
                .join(closure.alias("k"), seen, "left_anti")
                .localCheckpoint(eager=False)
            )
            if stats is not None:
                delta_sizes.append(new.count())
            closure = closure.unionByName(new)
            # the next frontier is a cheap filter over the delta's
            # checkpoint — no extra materialization needed. Its count
            # doubles as the ONLY termination check: an empty delta
            # implies an empty exact class, and an empty exact class
            # proves completeness (any pair at distance > 2^(k+1) would
            # have an exact-2^(k+1) prefix) — so the separate
            # per-round isEmpty() job the r5 loop ran is redundant.
            exact = new.filter(F.col("dist") == (1 << (i + 1)))
            n_exact = exact.count()
            if n_exact == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                    stats["delta_sizes"] = delta_sizes
                break
        else:
            raise ClosureNotConverged(
                f"no fixpoint after {max_iterations} doubling rounds"
            )
        if castable:
            # decode = cast back to each column's ORIGINAL dtype
            p_t = schema["parent"].dataType.simpleString()
            c_t = schema["child"].dataType.simpleString()
            return closure.select(
                F.col("p").cast(p_t).alias("parent"),
                F.col("c").cast(c_t).alias("child"),
            )
        return (
            closure.join(p_dict, "p", "left")
            .join(c_dict, "c", "left")
            .select("parent", "child")
        )


def transitive_closure_seminaive(
    edges: DataFrame, max_iterations: int = 512, stats: dict | None = None
) -> DataFrame:
    """G4 via classic semi-naive iteration (Δ ⋈ E per round): one round
    per path length. Wins when deltas are tiny and the doubling join's
    path-count intermediate would blow up on dense graphs; loses badly
    on long chains. Raises rather than silently truncating at the cap
    — with the default 64-round cap this variant dropped the 37
    deepest pairs of the sf0.1 fixture graph (diameter > 64)."""
    spark = edges.sparkSession
    base = edges.select("parent", "child").dropDuplicates().localCheckpoint(eager=True)
    parts = _fixpoint_partitions(spark, base.count() * 8)
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _constraint_propagation_off(spark, parts, aqe_off=parts < configured):
        closure = base
        frontier = base
        for i in range(max_iterations):
            grown = (
                frontier.alias("f")
                .join(base.alias("e"), F.col("f.child") == F.col("e.parent"))
                .select(F.col("f.parent").alias("parent"), F.col("e.child").alias("child"))
                .dropDuplicates()
            )
            new = grown.join(closure, ["parent", "child"], "left_anti").localCheckpoint(eager=True)
            if new.isEmpty():
                if stats is not None:
                    stats["rounds"] = i + 1
                return closure
            if stats is not None:
                stats.setdefault("delta_sizes", []).append(new.count())
            # union of checkpointed deltas; flatten periodically to keep
            # the logical plan shallow
            closure = closure.unionByName(new)
            if (i + 1) % 16 == 0:
                closure = closure.localCheckpoint(eager=True)
            frontier = new
        raise ClosureNotConverged(f"no fixpoint after {max_iterations} semi-naive rounds")


def khop_descendants(edges: DataFrame, roots: DataFrame, max_depth: int) -> DataFrame:
    """G6/G8: bounded BFS from roots with depth column
    (scripts/visualize_graph.py:99-157). roots: (number)."""
    frontier = roots.select(
        F.col("number").alias("root"), F.col("number").alias("node"), F.lit(0).alias("depth")
    )
    out = frontier
    with _constraint_propagation_off(edges.sparkSession):
        for d in range(1, max_depth + 1):
            frontier = (
                frontier.alias("f")
                .join(edges.alias("e"), F.col("f.node") == F.col("e.parent"))
                .select(F.col("f.root").alias("root"), F.col("e.child").alias("node"), F.lit(d).alias("depth"))
                .dropDuplicates()
                .join(out.select("root", "node"), ["root", "node"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if frontier.isEmpty():
                break
            out = out.unionByName(frontier)
    return out


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a superseded localCheckpoint's backing storage NOW
    instead of waiting for the ContextCleaner's GC pass — a fixpoint
    loop otherwise stacks one materialized round per iteration (at
    cluster scale that is rounds x |labels| of executor memory held for
    nothing). The frame is unreadable afterwards (a local checkpoint
    has no lineage to recompute from), so only call this on frames no
    later plan reads."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover — best-effort (non-LogicalRDD plan)
        pass


def connected_components(
    edges: DataFrame, max_iterations: int = 64, stats: dict | None = None
) -> DataFrame:
    """Connected components by iterative min-label propagation over the
    undirected graph — the canonicalization pass of the north rule
    (stable cluster representative = min member id). Returns
    (node, component).

    Each iteration: component[n] = min(component[n], min over neighbors)
    — a shuffle groupBy on node. Converges in O(diameter)+1 iterations;
    for extreme diameters :func:`connected_components_star` is the
    drop-in upgrade (O(log^2 n) rounds).

    Per-round cost is kept minimal because at dedup-cluster shapes
    (tiny diameter, so 3-5 rounds) the fixed cost per round IS the
    stage cost: loop shuffles are sized to the label frame
    (:func:`_fixpoint_partitions` — never above the session conf, so a
    cluster-scale input still fans out fully), convergence is read off
    the checkpointed round itself (a ``prev`` column + count — no extra
    join), and each superseded round's checkpoint is freed eagerly.
    ``stats`` (mutated in place) records ``rounds`` and ``delta_sizes``
    = labels changed per round, the same contract as the closure's —
    scripts/cc_scale_curve.py turns it into the measured scale curve.
    """
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        undirected = (
            edges.select(F.col("parent").alias("a"), F.col("child").alias("b"))
            .unionByName(edges.select(F.col("child").alias("a"), F.col("parent").alias("b")))
            .dropDuplicates()
            # lazy: the sizing count below is the materializing action —
            # checkpoint + count are ONE job instead of two (a local
            # checkpoint persists its blocks during whatever job first
            # computes it)
            .localCheckpoint(eager=False)
        )
    parts = _fixpoint_partitions(spark, undirected.count())
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _constraint_propagation_off(spark, parts, aqe_off=parts < configured):
        labels_cp = (
            undirected.select(F.col("a").alias("node"))
            .dropDuplicates()
            .withColumn("component", F.col("node"))
            # lazy: round 1's fused job materializes it
            .localCheckpoint(eager=False)
        )
        labels = labels_cp
        delta_sizes: list[int] = []
        for i in range(max_iterations):
            neighbor_min = (
                undirected.join(labels, undirected.b == labels.node)
                .groupBy("a")
                .agg(F.min("component").alias("nmin"))
            )
            updated_cp = (
                labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
                .select(
                    labels.node.alias("node"),
                    labels.component.alias("prev"),
                    F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))).alias("component"),
                )
                # lazy: the convergence count IS the materializing
                # action (fused — one driver job per round, not two; at
                # dedup-cluster shapes the per-round job launch is the
                # stage cost)
                .localCheckpoint(eager=False)
            )
            # convergence is a scan of the round being materialized —
            # the old plan's separate updated-vs-labels join was a full
            # extra shuffle per round
            n_changed = updated_cp.filter(F.col("component") != F.col("prev")).count()
            delta_sizes.append(n_changed)
            _free_local_checkpoint(labels_cp)
            labels_cp = updated_cp
            labels = updated_cp.select("node", "component")
            if n_changed == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                    stats["delta_sizes"] = delta_sizes
                _free_local_checkpoint(undirected)
                return labels
    raise ClosureNotConverged(f"components not stable after {max_iterations} rounds")


def connected_components_star(
    edges: DataFrame, max_iterations: int = 64, stats: dict | None = None
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the diameter-robust upgrade over min-label propagation: label
    propagation needs O(diameter) rounds, star contraction converges in
    O(log^2 n) regardless of diameter (a million-node chain closes in
    ~20 rounds, not a million). Returns (node, component), identical to
    :func:`connected_components` (pytest-asserted on a long chain).

    large-star: every node points its *larger* neighbors at the minimum
    of its neighborhood (incl. itself); small-star does the same for
    smaller-or-equal neighbors. Both are a groupBy + join per round —
    pure shuffle ops, no driver data. Same loop hygiene as
    :func:`connected_components`: sized shuffles, freed superseded
    checkpoints, and stability read as |next| == |cur| plus one-sided
    ``next \\ cur`` emptiness (equal multiset cardinality + multiset
    containment <=> equality — half the old two-sided exceptAll cost).
    """
    spark = edges.sparkSession
    with _constraint_propagation_off(spark):
        cur = (
            edges.select(F.col("parent").alias("u"), F.col("child").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
            # lazy: the sizing count below materializes it (fused job)
            .localCheckpoint(eager=False)
        )
    n_cur = cur.count()
    parts = _fixpoint_partitions(spark, n_cur)
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with _constraint_propagation_off(spark, parts, aqe_off=parts < configured):

        def _large_star(e: DataFrame) -> DataFrame:
            sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
            return (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .dropDuplicates()
            )

        def _small_star(e: DataFrame) -> DataFrame:
            # orient every edge (big, small); group by the big end
            oriented = e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            m = oriented.groupBy("u").agg(F.min("v").alias("m"))
            nbrs = oriented.join(m, "u")
            out = nbrs.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
                nbrs.select("u", F.col("m").alias("v"))
            )
            return out.filter(F.col("u") != F.col("v")).dropDuplicates()

        delta_sizes: list[int] = []
        for i in range(max_iterations):
            # lazy checkpoint + count fused into one job per round
            nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
            n_nxt = nxt.count()
            # multiset equality <=> equal cardinality + one-sided
            # multiset containment (count is a cached-scan, exceptAll a
            # join — this halves the old two-sided stability check)
            stable = n_nxt == n_cur and nxt.exceptAll(cur).isEmpty()
            delta_sizes.append(n_nxt)
            _free_local_checkpoint(cur)
            cur, n_cur = nxt, n_nxt
            if stable:
                if stats is not None:
                    stats["rounds"] = i + 1
                    stats["delta_sizes"] = delta_sizes
                nodes = (
                    edges.select(F.col("parent").alias("node"))
                    .unionByName(edges.select(F.col("child").alias("node")))
                    .dropDuplicates()
                )
                labels = cur.groupBy("u").agg(F.min("v").alias("component")).select(
                    F.col("u").alias("node"), "component"
                )
                return nodes.join(labels, "node", "left").select(
                    "node", F.coalesce("component", "node").alias("component")
                )
    raise ClosureNotConverged(f"star contraction not stable after {max_iterations} rounds")


def strongly_connected_components(
    edges: DataFrame, max_iterations: int = 64, max_walk_steps: int = 1024
) -> DataFrame:
    """(node, scc) — coloring/peeling SCC (Orzan-style), the
    condensation primitive for :func:`transitive_closure_condensed`:

    per outer round over the still-unassigned subgraph:
      1. forward-propagate the MAX node id to a fixpoint — c(v) = the
         largest id that reaches v (including v itself);
      2. nodes with c(v) == v are color roots, and SCC(r) is exactly the
         set backward-reachable from r through edges whose endpoints
         BOTH carry color r (they reach r forward by definition of the
         color, and r reaches them by the backward walk);
      3. assign, peel, repeat.

    Every round assigns at least every color root, so the loop
    terminates; worst case is O(#SCCs) outer rounds (a descending-id
    chain peels one per round) and O(graph depth) single-step inner
    rounds (``max_walk_steps`` caps each propagation/walk; both raise
    ClosureNotConverged rather than silently truncating). That profile
    fits BOM-shaped data, whose cycles are few and shallow — for deep
    acyclic reaches prefer the direct :func:`transitive_closure`
    (doubling covers 2^24 path length); a production all-cases SCC
    would use divide-and-conquer forward-backward on top of the same
    two reachability kernels. All steps are joins/aggregates with
    per-round localCheckpoint, no driver-side graph state.
    """
    spark = edges.sparkSession
    e_all = (
        edges.select("parent", "child")
        .filter(F.col("parent") != F.col("child"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    parts = _fixpoint_partitions(spark, e_all.count())
    nodes = (
        edges.select(F.col("parent").alias("node"))
        .unionByName(edges.select(F.col("child").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    assigned = nodes.select("node", F.lit(None).cast("string").alias("scc")).filter(
        F.lit(False)
    )
    active = nodes
    with _constraint_propagation_off(spark, parts):
        for _ in range(max_iterations):
            if active.isEmpty():
                return assigned
            ae = (
                e_all.join(active.withColumnRenamed("node", "parent"), "parent")
                .join(active.withColumnRenamed("node", "child"), "child")
                .select("parent", "child")
                .localCheckpoint(eager=True)
            )
            # 1. forward max-color fixpoint
            color = active.withColumn("color", F.col("node")).localCheckpoint(eager=True)
            for _f in range(max_walk_steps):
                pushed = (
                    ae.join(
                        color.select(
                            F.col("node").alias("parent"), F.col("color").alias("pcolor")
                        ),
                        "parent",
                    )
                    .groupBy(F.col("child").alias("node"))
                    .agg(F.max("pcolor").alias("pmax"))
                )
                nxt = (
                    color.join(pushed, "node", "left")
                    .select(
                        "node",
                        F.greatest(F.col("color"), F.coalesce("pmax", "color")).alias("color"),
                    )
                    .localCheckpoint(eager=True)
                )
                changed = (
                    nxt.alias("n")
                    .join(color.alias("c"), "node")
                    .filter(F.col("n.color") != F.col("c.color"))
                )
                stable = changed.isEmpty()
                color = nxt
                if stable:
                    break
            else:  # pragma: no cover
                raise ClosureNotConverged("SCC forward coloring did not stabilize")
            # 2. backward walk from the roots inside each color class
            ce = (
                ae.join(
                    color.select(F.col("node").alias("parent"), F.col("color").alias("pc")),
                    "parent",
                )
                .join(
                    color.select(F.col("node").alias("child"), F.col("color").alias("cc")),
                    "child",
                )
                .filter(F.col("pc") == F.col("cc"))
                .select("parent", "child", F.col("pc").alias("color"))
                .localCheckpoint(eager=True)
            )
            reached = (
                color.filter(F.col("node") == F.col("color"))
                .select("node", F.col("color").alias("scc"))
                .localCheckpoint(eager=True)
            )
            frontier = reached
            for _b in range(max_walk_steps):
                step = (
                    ce.join(
                        frontier.select(F.col("node").alias("child"), "scc"), "child"
                    )
                    .filter(F.col("color") == F.col("scc"))
                    .select(F.col("parent").alias("node"), "scc")
                    .dropDuplicates()
                    .join(reached.select("node"), "node", "left_anti")
                    .localCheckpoint(eager=True)
                )
                if step.isEmpty():
                    break
                reached = reached.unionByName(step)
                frontier = step
            else:  # pragma: no cover
                raise ClosureNotConverged("SCC backward walk did not stabilize")
            assigned = assigned.unionByName(reached).localCheckpoint(eager=True)
            active = active.join(reached.select("node"), "node", "left_anti").localCheckpoint(
                eager=True
            )
        if active.isEmpty():
            return assigned
        raise ClosureNotConverged(f"SCC peeling not finished after {max_iterations} rounds")


def transitive_closure_condensed(edges: DataFrame) -> DataFrame:
    """G4 via SCC condensation — the scale path for *cyclic* graphs:
    contract every strongly connected component to one supernode, run
    the delta-doubling closure on the (acyclic, usually far smaller)
    condensation DAG, then expand supernode pairs back to member pairs.

    Why it scales: inside an SCC of size k the raw closure holds all
    k x k pairs, and every fixpoint round of a direct closure re-shuffles
    them; after contraction they cost nothing until the final expansion
    join (which is output-sized, irreducible). Semantics equal
    :func:`transitive_closure` exactly (pytest vs Python DFS and the
    direct closure): intra-SCC pairs (including self-pairs — the
    reference DFS emits (x, x) inside cycles), plus self-loops, plus
    member-expanded DAG-closure pairs.
    """
    scc = strongly_connected_components(edges).localCheckpoint(eager=True)
    by_parent = scc.select(F.col("node").alias("parent"), F.col("scc").alias("scc_p"))
    by_child = scc.select(F.col("node").alias("child"), F.col("scc").alias("scc_c"))
    dag_edges = (
        edges.join(by_parent, "parent")
        .join(by_child, "child")
        .filter(F.col("scc_p") != F.col("scc_c"))
        .select(F.col("scc_p").alias("parent"), F.col("scc_c").alias("child"))
        .dropDuplicates()
    )
    dag_closure = transitive_closure(dag_edges)
    members = scc.select(F.col("scc").alias("grp"), F.col("node").alias("member"))
    sizes = members.groupBy("grp").agg(F.count("*").alias("n"))
    multi = members.join(sizes.filter(F.col("n") > 1).select("grp"), "grp")
    intra = (
        multi.select("grp", F.col("member").alias("parent"))
        .join(multi.select("grp", F.col("member").alias("child")), "grp")
        .select("parent", "child")
    )
    self_loops = edges.filter(F.col("parent") == F.col("child")).select(
        "parent", "child"
    ).dropDuplicates()
    inter = (
        dag_closure.join(
            members.select(F.col("grp").alias("parent"), F.col("member").alias("mp")),
            "parent",
        )
        .join(
            members.select(F.col("grp").alias("child"), F.col("member").alias("mc")),
            "child",
        )
        .select(F.col("mp").alias("parent"), F.col("mc").alias("child"))
    )
    return intra.unionByName(inter).unionByName(self_loops).dropDuplicates()


# ------------------------------------------------------------------ leaf/root
def leaf_parts(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """G7: parts that are never a parent (FILTER NOT EXISTS analogue)."""
    return entities.select("number").join(
        edges.select(F.col("parent").alias("number")).dropDuplicates(), "number", "left_anti"
    )


def root_parts(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """G7: parts that are never a child."""
    return entities.select("number").join(
        edges.select(F.col("child").alias("number")).dropDuplicates(), "number", "left_anti"
    )


def missing_parts(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """J4: edge endpoints with no entity row -> MissingPart placeholders
    (Neo4j MERGE ... ON CREATE SET partType='MissingPart', :672-679)."""
    endpoints = (
        edges.select(F.col("parent").alias("number"))
        .unionByName(edges.select(F.col("child").alias("number")))
        .dropDuplicates()
    )
    return endpoints.join(entities.select("number"), "number", "left_anti").withColumn(
        "part_type", F.lit("MissingPart")
    )


# ------------------------------------------------------------------ self-joins
def supersedes(entities: DataFrame) -> DataFrame:
    """J5 (snowmobile_neo4j_importer.py:250-264): same name, different
    number; lexicographically larger number supersedes the smaller."""
    a = entities.select(F.col("name").alias("name"), F.col("number").alias("older"))
    b = entities.select(F.col("name").alias("name"), F.col("number").alias("newer"))
    return (
        a.join(b, "name")
        .filter(F.col("older") < F.col("newer"))
        .select("newer", "older")
    )


def supersedes_chain(entities: DataFrame) -> DataFrame:
    """J5 bounded variant: the same-name supersession order as a CHAIN —
    each number points only to the next larger number in its name group
    (one ``lead()`` window, O(k) edges per k-member group).

    The exact pairwise form above emits O(k^2) rows for a k-member name
    group — a Zipfian-hot display name at corpus scale lands an O(k^2)
    *output* on one reducer. The chain carries the identical information
    (supersession is a total order per group, so the transitive closure
    of the chain recovers the exact pair set — pytest-pinned); the exact
    form stays the gate-entry oracle default. Same treatment as the
    J7/J8 horizon-bounded variants (reference
    snowmobile_neo4j_importer.py:250-264 is pairwise in Cypher)."""
    w = Window.partitionBy("name").orderBy("number")
    return (
        entities.select("name", "number")
        .withColumn("newer", F.lead("number").over(w))
        .filter(F.col("newer").isNotNull())
        .select("newer", F.col("number").alias("older"))
    )


def part_of_prefix(entities: DataFrame, edges: DataFrame, prefix_len: int = 3) -> DataFrame:
    """J6 (snowmobile_neo4j_importer.py:266-282): (p1)-[PART_OF]->(p2)
    when ``p1.number STARTS WITH left(p2.number, 3)``, p1 != p2, and the
    pair is not BOM-linked **in either direction** (the Cypher's
    ``NOT (p1)-[:HAS_COMPONENT]-(p2)`` is undirected).

    The startswith condition is *asymmetric*: the key is the assembly's
    (p2's) prefix — which is p2's whole number when it is shorter than
    ``prefix_len``. Scale-safe equi-join form: explode each member
    number into its prefixes of length 1..prefix_len and join them
    against ``left(assembly_number, prefix_len)`` (<=3 rows per member
    vs the reference's unindexed quadratic Cypher scan, SURVEY §4.2).
    """
    member = entities.select(F.col("number").alias("member"))
    # one row per (member, prefix of length L), L = 1..min(len, prefix_len)
    member_pfx = member.select(
        "member",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(F.length("member"), F.lit(prefix_len))),
                lambda l: F.col("member").substr(F.lit(1), l),
            )
        ).alias("pfx"),
    )
    assembly = entities.select(
        F.col("number").alias("assembly"),
        F.substring("number", 1, prefix_len).alias("pfx"),
    )
    pairs = (
        member_pfx.join(assembly, "pfx")
        .filter(F.col("member") != F.col("assembly"))
        .select("member", "assembly")
        .dropDuplicates()
    )
    linked = edges.select(F.col("child").alias("member"), F.col("parent").alias("assembly"))
    linked_undirected = linked.unionByName(
        edges.select(F.col("parent").alias("member"), F.col("child").alias("assembly"))
    )
    return pairs.join(linked_undirected, ["member", "assembly"], "left_anti")


# Default lookback for the bounded (scale) variants of the pairwise
# change relations: a later change relates only to predecessors within
# this many days. The reference's all-pairs semantics (horizon=None) are
# quadratic in group size — with low-cardinality keys (change_type) a
# 100x corpus turns one hot key into a reducer-killing O(k²) group, so
# at scale the bounded form is the one to deploy.
DEFAULT_CHANGE_HORIZON_DAYS = 365


def _ordered_change_pairs(
    changes: DataFrame, key: str, horizon_days: int | None
) -> DataFrame:
    """All (later, earlier) pairs of changes sharing ``key`` with
    ts_earlier < ts_later — optionally bounded to a time horizon.

    horizon=None: the reference's exact all-pairs self-join (shuffle key
    = ``key`` alone; pre-dedup intermediate is quadratic in group size).

    horizon=k days: both sides are bucketed to floor(epoch_day / k) and
    the join key becomes (key, bucket) — the earlier side is exploded to
    its own and the NEXT bucket, so every pair within k days co-locates
    (buckets differ by at most 1) while the shuffle key's cardinality
    grows with the time span of the data. Group size is bounded by
    changes-per-horizon-window instead of changes-per-key-ever, which is
    what survives a 100x corpus.
    """
    a = changes.select(
        key, F.col("change_id").alias("earlier"), F.col("ts").alias("ts_a")
    )
    b = changes.select(
        key, F.col("change_id").alias("later"), F.col("ts").alias("ts_b")
    )
    if horizon_days is None:
        return (
            a.join(b, key)
            .filter(F.col("ts_a") < F.col("ts_b"))
            .select("later", "earlier")
            .dropDuplicates()
        )
    bk_a = F.floor(F.datediff(F.col("ts_a"), F.lit("1970-01-01")) / horizon_days)
    bk_b = F.floor(F.datediff(F.col("ts_b"), F.lit("1970-01-01")) / horizon_days)
    # earlier side lands in its own bucket AND the next one; the later
    # side keeps a single bucket, so each qualifying pair joins exactly
    # once (no post-join dedup needed for the explode itself).
    a2 = a.withColumn("bk", F.explode(F.array(bk_a, bk_a + 1)))
    b2 = b.withColumn("bk", bk_b)
    return (
        a2.join(b2, [key, "bk"])
        .filter(
            (F.col("ts_a") < F.col("ts_b"))
            & (F.datediff(F.col("ts_b"), F.col("ts_a")) <= horizon_days)
        )
        .select("later", "earlier")
        .dropDuplicates()
    )


def depends_on(changes: DataFrame, horizon_days: int | None = None) -> DataFrame:
    """J7 (:289-305): for changes touching the same part, the later
    depends on the earlier. ``horizon_days`` bounds the lookback (see
    :func:`_ordered_change_pairs`); None reproduces the reference's
    exact unbounded semantics — affected_number is high-cardinality, so
    the exact form holds up longer than related_to's, but hot parts
    (thousands of changes each) still warrant the bound at scale."""
    return _ordered_change_pairs(changes, "affected_number", horizon_days)


def related_to(
    changes: DataFrame,
    depends: DataFrame,
    horizon_days: int | None = None,
) -> DataFrame:
    """J8 (:307-326): same change type, date-ordered, minus DEPENDS_ON.

    ``horizon_days=None`` is the reference's exact all-pairs semantics —
    correct, and what the gate oracle checks, but change_type has a
    handful of values, so every change of one type lands on one reducer
    and the pre-dedup intermediate is O(k²) in group size. At scale pass
    a horizon (e.g. ``DEFAULT_CHANGE_HORIZON_DAYS``): the shuffle key
    becomes (change_type, time_bucket) and group size is bounded by the
    change rate, not the corpus age."""
    pairs = _ordered_change_pairs(changes, "change_type", horizon_days)
    return pairs.join(depends, ["later", "earlier"], "left_anti")


def evolves_to(versions: DataFrame) -> DataFrame:
    """J9 (windchill_odata_temporal_import.py:228-246): each version links
    to the minimum greater version of the same number — ``lead`` beats
    the reference's join+collect (SURVEY §2.7)."""
    w = Window.partitionBy("number").orderBy("version")
    return (
        versions.withColumn("next_version", F.lead("version").over(w))
        .filter(F.col("next_version").isNotNull())
        .select("number", "version", "next_version")
    )


# ------------------------------------------------------------------ level-stack
def level_stack_decode(rows: DataFrame, max_level: int | None = None) -> DataFrame:
    """G1 (spreadsheet_loader.py:1160-1182): order-dependent decode of a
    (group_id, row_idx, level, number) hierarchy — keep a stack of the
    last-seen part per level; a row at level L emits edge
    (stack[L-1] -> number) and clears deeper levels.

    Implemented with grouped ``applyInPandas`` (Arrow-batched, stateful
    *within* a group, groups are bounded: one sheet / one conversation)
    — the one place per-group sequential state is inherent (SURVEY §7.4).
    """

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        stack: dict[int, str] = {}
        out = []
        for level, number in zip(pdf["level"], pdf["number"]):
            lvl = int(level)
            if lvl > 0 and (lvl - 1) in stack:
                out.append((stack[lvl - 1], number))
            stack[lvl] = number
            for deeper in [k for k in stack if k > lvl]:
                del stack[deeper]
        return pd.DataFrame(out, columns=["parent", "child"])

    return rows.groupBy("group_id").applyInPandas(decode, schema="parent string, child string")


def level_stack_decode_window(
    rows: DataFrame, max_level: int, attrs: tuple[str, ...] = ()
) -> DataFrame:
    """G1 as pure window expressions (no Python): parent of a level-L row
    is the last preceding row at level L-1; any ``attrs`` columns ride
    the child row onto the emitted edge unchanged. Exact when levels
    never jump *down* by 2+ and back (no stale stack entries) — which
    holds for our fixtures; the applyInPandas variant above is the
    general decoder."""
    w = (
        Window.partitionBy("group_id")
        .orderBy("row_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lasts = [
        F.last(F.when(F.col("level") == lvl, F.col("number")), ignorenulls=True).over(w).alias(f"last_l{lvl}")
        for lvl in range(max_level)
    ]
    df = rows.select("group_id", "row_idx", "level", "number", *attrs, *lasts)
    parent = F.lit(None).cast("string")
    for lvl in range(1, max_level + 1):
        parent = F.when(F.col("level") == lvl, F.col(f"last_l{lvl - 1}")).otherwise(parent)
    return (
        df.withColumn("parent", parent)
        .filter(F.col("parent").isNotNull())
        .select("parent", F.col("number").alias("child"), *attrs)
    )


def level_stack_decode_usage(rows: DataFrame) -> DataFrame:
    """G1 with usage attributes (reference parse_part_usage
    :1262-1318): the stack decode, carrying quantity/uom/find_number
    from the child row onto the emitted edge."""

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        stack: dict[int, str] = {}
        out = []
        for level, number, qty, uom, fn in zip(
            pdf["level"], pdf["number"], pdf["quantity"], pdf["uom"], pdf["find_number"]
        ):
            lvl = int(level)
            if lvl > 0 and (lvl - 1) in stack:
                out.append((stack[lvl - 1], number, qty, uom, fn))
            stack[lvl] = number
            for deeper in [k for k in stack if k > lvl]:
                del stack[deeper]
        return pd.DataFrame(
            out, columns=["parent", "child", "quantity", "uom", "find_number"]
        )

    return rows.groupBy("group_id").applyInPandas(
        decode,
        schema="parent string, child string, quantity bigint, uom string, find_number string",
    )


def level_stack_decode_usage_window(rows: DataFrame, max_level: int) -> DataFrame:
    """Usage decode as pure window expressions: the usage attributes ride
    on the child row itself, so this is just the window decoder carrying
    three extra columns. No Python crossing — the production path at
    10^12 rows (one shuffle by group, whole-stage codegen); pytest
    asserts full-row equivalence with the general applyInPandas
    decoder on the fixture hierarchy."""
    return level_stack_decode_window(
        rows, max_level, attrs=("quantity", "uom", "find_number")
    )


def _level_stack_decode_stateful(rows: DataFrame, attrs: tuple[str, ...]) -> DataFrame:
    """General stateful decoder with arbitrary pass-through ``attrs``
    (the :func:`level_stack_decode` loop, attr columns riding the child
    row). Exact on every input, including stale-stack shapes the window
    form cannot express."""
    from pyspark.sql.types import StructField, StructType

    attr_fields = [rows.schema[a] for a in attrs]
    out_schema = StructType(
        [
            StructField("parent", rows.schema["number"].dataType),
            StructField("child", rows.schema["number"].dataType),
            *attr_fields,
        ]
    )
    cols = ["level", "number", *attrs]

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row_idx")
        stack: dict[int, str] = {}
        out = []
        for level, number, *extra in zip(*(pdf[c] for c in cols)):
            lvl = int(level)
            if lvl > 0 and (lvl - 1) in stack:
                out.append((stack[lvl - 1], number, *extra))
            stack[lvl] = number
            for deeper in [k for k in stack if k > lvl]:
                del stack[deeper]
        return pd.DataFrame(out, columns=["parent", "child", *attrs])

    return rows.groupBy("group_id").applyInPandas(decode, schema=out_schema)


def level_stack_decode_routed(
    rows: DataFrame, max_level: int, attrs: tuple[str, ...] = ()
) -> DataFrame:
    """G1 decode that is both exact and JVM-fast: groups whose level
    sequence the window form decodes exactly go through
    :func:`level_stack_decode_window` (whole-stage codegen, no Python);
    the rest go through the general stateful decoder.

    Router predicate (one window expression): the window form can only
    mis-attach when a row's stack parent is *stale* — the last level-L-1
    row was cleared by a shallower row before a level-L row arrived. To
    reach level L from below L-1 without refreshing L-1, some step must
    jump UP by >= 2 levels, so ``level - lag(level) >= 2`` anywhere in a
    group is a sufficient (conservative) violation flag. A group holding
    any ``level > max_level`` row is ALSO flagged — the window form
    enumerates parent slots only up to ``max_level``, so an undersized
    caller value would silently drop that group's deep edges; routing it
    to the stateful decoder keeps output independent of the caller's
    bound. Clean groups — in well-formed BOM exports, virtually all of
    them — never cross into Python; a malformed export degrades that
    group to the exact decoder instead of silently mis-attaching.
    """
    w = Window.partitionBy("group_id").orderBy("row_idx")
    up2 = (F.col("level") - F.lag("level").over(w)) >= 2
    too_deep = F.col("level") > max_level
    # group flag as an unordered window max: ONE shuffle by group_id,
    # whose partitioning the downstream decode windows then reuse (a
    # groupBy+rejoin would shuffle the rows twice)
    tagged = rows.withColumn(
        "__viol",
        F.max((F.coalesce(up2, F.lit(False)) | too_deep).cast("int"))
        .over(Window.partitionBy("group_id"))
        == 1,
    )
    clean = tagged.filter(~F.col("__viol")).drop("__viol")
    dirty = tagged.filter(F.col("__viol")).drop("__viol")
    return level_stack_decode_window(clean, max_level, attrs).unionByName(
        _level_stack_decode_stateful(dirty, attrs)
    )


def chains(edges: DataFrame, n_hops: int) -> DataFrame:
    """G8 bounded path enumeration: every path of exactly ``n_hops``
    edges, returned as an arrow-joined string (reference supersession /
    dependency chain queries, verify_snowmobile_graph.py:147-198)."""
    cur = edges.select(
        F.col("src").alias("head"),
        F.col("dst").alias("tail"),
        F.concat_ws("->", F.col("src").cast("string"), F.col("dst").cast("string")).alias("path"),
    )
    step = edges.select(F.col("src").alias("tail"), F.col("dst").alias("nxt"))
    for _ in range(n_hops - 1):
        cur = (
            cur.join(step, "tail")
            .select(
                "head",
                F.col("nxt").alias("tail"),
                F.concat_ws("->", F.col("path"), F.col("nxt").cast("string")).alias("path"),
            )
        )
    return cur.select("path")


def level_stack_round_robin(rows: DataFrame) -> DataFrame:
    """G2 legacy variant (:194-252): children at level L are distributed
    round-robin over the level-(L-1) parts, by position. Documented as
    semantically different from G1 (SURVEY §2.4); ``main`` uses G1."""
    w_pos = Window.partitionBy("group_id", "level").orderBy("row_idx")
    pos = rows.withColumn("pos", F.row_number().over(w_pos) - 1)
    parents = pos.select(
        "group_id",
        (F.col("level") + 1).alias("level"),
        F.col("pos").alias("ppos"),
        F.col("number").alias("parent"),
    )
    counts = pos.groupBy("group_id", "level").agg(F.count("*").alias("n_at_level"))
    pcounts = counts.select(
        "group_id", (F.col("level") + 1).alias("level"), F.col("n_at_level").alias("n_parents")
    )
    return (
        pos.join(pcounts, ["group_id", "level"])
        .withColumn("ppos", F.pmod(F.col("pos"), F.col("n_parents")))
        .join(parents, ["group_id", "level", "ppos"])
        .select("parent", F.col("number").alias("child"))
    )
