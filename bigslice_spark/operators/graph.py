"""Iterative graph operators.

The reference supports iterative workloads by passing a computed
`*Result` back into the next invocation (exec/session.go:34-37,
exec/compile.go:226-261 task reuse — SURVEY §3 entry point C). The
Spark analog is a driver loop over persisted/checkpointed DataFrames.

connected_components implements minimum-label propagation: every node's
label converges to the smallest node id reachable from it. This is the
transitive-closure step that turns near-duplicate PAIRS (minhash /
ngram-jaccard output) into duplicate CLUSTERS — canonical docs are the
component minima. Deterministic on integer ids, so it oracle-checks
against a recursive CTE.

Scale shape: each iteration is one join (labels ⋈ symmetric edges,
the labels broadcast while they fit) + one min-aggregation on node
id. Iterations = graph diameter (near-dup clusters are shallow; ≤10
covers real corpora). Each round is materialized
(checkpoint.materialize) to truncate the exponentially growing
lineage; the master alone picks localCheckpoint or a reliable
checkpoint.

The operators take no physical-plan options. Each iterative loop joins
a node-sized relation (labels, ranks, the k-core alive set) against
the edge list every round; _broadcast_if_fits hints a broadcast of it
when its size fits ``spark.sql.autoBroadcastJoinThreshold`` (-1
disables), from a row count the loop's own materialize already
observes — no extra job decides the plan.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..checkpoint import materialize, release


def _oriented(e: DataFrame, self_loops: bool = False) -> DataFrame:
    """One-scan symmetrization of a (u, v) edge frame: explode each
    row into its two orientations (plus both endpoints' self-loops
    when asked) instead of unioning re-scans of the upstream plan.
    Union branches share NO work in Spark — a sym built from k
    branches recomputes the edge expression k times, and graph inputs
    are often join-shaped (lineitem ⋈ orders at sf1: ~1.5s per extra
    scan). Same row multiset into the downstream distinct(), one
    upstream scan."""
    structs = [F.struct(F.col("u"), F.col("v")),
               F.struct(F.col("v").alias("u"), F.col("u").alias("v"))]
    if self_loops:
        structs += [F.struct(F.col("u"), F.col("u").alias("v")),
                    F.struct(F.col("v").alias("u"),
                             F.col("v").alias("v"))]
    return (e.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.u", "s.v"))


def _broadcast_if_fits(spark, row_bytes: int, n: int):
    """``F.broadcast`` when an ``n``-row relation of ``row_bytes`` per
    row fits the session's ``spark.sql.autoBroadcastJoinThreshold``
    (-1 disables broadcasts), else the identity. The node-sized
    relations the loops join are checkpointed, and a checkpointed
    relation's size estimate comes from its origin plan, so unhinted,
    AQE plans exchanges of the edge side first."""
    thr = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return F.broadcast if row_bytes * n <= thr else (lambda df: df)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         nodes: DataFrame | None = None,
                         node_col: str = "node",
                         max_iter: int = 20) -> DataFrame:
    """(node, component) for every node, component = min reachable id.

    `edges` are undirected (symmetrized internally). `nodes` optionally
    supplies isolated vertices (emitted as their own singleton
    component). Converges when an iteration changes no label; raises if
    max_iter rounds don't converge (diameter > max_iter). The
    16 B/node label relation is broadcast to the edge scan each round
    while it fits (_broadcast_if_fits).
    """
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    sym = materialize(_oriented(e).distinct())

    lab = sym.select("u").distinct() \
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
    if nodes is not None:
        extra = (nodes.select(F.col(node_col).cast("long").alias("node"))
                 .join(lab.select("node"), on="node", how="left_anti")
                 .select("node", F.col("node").alias("label")))
        lab = lab.unionByName(extra)
    # |nodes| rides the materialize action and sizes the broadcast
    obs_n = Observation()
    lab = materialize(
        lab.observe(obs_n, F.count(F.lit(1)).alias("__rows__")))
    hint = _broadcast_if_fits(edges.sparkSession, 16,
                              obs_n.get["__rows__"])

    prev_mat = lab            # superseded rounds release() their blocks
    for _ in range(max_iter):
        # candidate labels: own label + the label of every neighbor.
        # The own-label row carries own=true so the aggregation below
        # piggybacks the PREVIOUS label onto each node — convergence
        # detection is then a filter over the just-materialized result
        # (one cheap job), not a node⋈node join + shuffle per round.
        own = lab.select("node", F.col("label").alias("cand"),
                         F.lit(True).alias("own"))
        nbr = (sym.join(hint(lab), sym.v == lab.node)
               .select(F.col("u").alias("node"),
                       F.col("label").alias("cand"),
                       F.lit(False).alias("own")))
        # the fixpoint probe RIDES the materialize action (r15, VERDICT
        # r14 task 8): an Observation on the round relation collects
        # the changed-label count during the checkpoint job itself
        # (verified to fire on both localCheckpoint and reliable
        # checkpoint), replacing the separate filter/isEmpty job per
        # round — one fewer job per iteration, same integers
        obs = Observation()
        new = materialize(
            own.unionByName(nbr)
            .groupBy("node").agg(
                F.min("cand").alias("label"),
                F.min(F.when(F.col("own"), F.col("cand")))
                .alias("__old__"))
            .observe(obs, F.count(F.when(
                F.col("label") != F.col("__old__"), 1))
                .alias("__changed__")))
        release(prev_mat)     # eager materialize above consumed it
        prev_mat = new
        lab = new.select("node", "label")
        if obs.get["__changed__"] == 0:
            release(sym)
            return lab.select("node", F.col("label").alias("component"))
    release(prev_mat)
    release(sym)
    raise RuntimeError(f"did not converge in {max_iter} iterations")


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", iters: int = 4) -> DataFrame:
    """Synchronous label-propagation communities → (node, label).

    Each round, every node adopts the most frequent label among its
    neighbors' current labels plus its own, ties broken by MIN label —
    a fully deterministic rule (no random order, no async sweeps), so
    a fixed ``iters`` replays identically in SQL (unrolled CTEs, the
    pagerank-oracle pattern) and under any partitioning. SELF-EDGES
    are ignored: a node's own label enters the vote exactly once
    whether or not the input contains (u, u) — the rule depends on
    the neighborhood, not on edge bookkeeping. Communities are denser
    than connected components: CC merges anything touching, LPA keeps
    weakly-linked clusters apart — the next analysis step after
    near-dup clustering at corpus scale.

    Scale shape per iteration: one join (labels ⋈ symmetric edges,
    both hash-partitioned on node id), one count aggregation, and an
    arg-max folded into a second aggregation as ``max(struct(c,
    -label))`` — partial-agg friendly, no per-node sort/window — all
    on (node, label) pairs, O(edges) rows; lineage truncated per round
    via checkpoint.materialize, the 16 B/node label relation broadcast
    while it fits (_broadcast_if_fits). The own-label vote enters as a
    one-time self-loop on every node instead of a per-round union.
    Fixed iteration count (synchronous LPA on bipartite structures can
    oscillate rather than converge — a bound, not a convergence test,
    is the contract)."""
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    # both orientations + one self-loop per endpoint, in ONE upstream
    # scan (_oriented): the self-loop is the own-label vote, entering
    # once per node — an input (u,u) edge explodes to four copies of
    # (u,u) and distinct() keeps one, so it can neither collide with
    # the injected loop nor double-count. Every node has exactly one
    # (u, u) row, so counting them on the materialize action gives
    # |nodes| for the broadcast decision without a job of its own
    obs_n = Observation()
    sym = materialize(
        _oriented(e, self_loops=True).distinct()
        .observe(obs_n, F.count(F.when(F.col("u") == F.col("v"), 1))
                 .alias("__nodes__")))
    hint = _broadcast_if_fits(edges.sparkSession, 16,
                              obs_n.get["__nodes__"])
    lab = (sym.select("u").distinct()
           .select(F.col("u").alias("node"), F.col("u").alias("label")))
    prev_mat = None           # superseded rounds release() their blocks
    for it in range(iters):
        # the self-loop vote row (u == v) IS the node's previous
        # label; flagging it lets the round aggregation carry the old
        # label through, so the exact-fixpoint probe below is a filter
        # over the just-materialized result — no extra join per round
        # (the CC convergence pattern). When a round changes nothing,
        # every further synchronous round is the identity, so stopping
        # early returns BIT-IDENTICAL output to running all ``iters``
        # rounds — the fixed-iters oracle contract is preserved, only
        # wasted rounds are skipped. Oscillating (period-2)
        # configurations never trigger the probe and run the full
        # bound, as documented.
        votes = (sym.join(hint(lab), sym.v == lab.node)
                 .select(F.col("u").alias("node"), "label",
                         (sym.u == sym.v).alias("own")))
        counts = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c"),
            F.max("own").alias("own_any"))
        # arg-max (count DESC, label ASC) == max of (c, -label) structs.
        # The fixpoint probe rides the materialize action via an
        # Observation (r15, the connected_components pattern) — no
        # separate filter/isEmpty job per round.
        obs = Observation()
        new = materialize(
            counts.groupBy("node").agg(
                F.max(F.struct(F.col("c"),
                               (-F.col("label")).alias("nl"))).alias("m"),
                F.min(F.when(F.col("own_any"), F.col("label")))
                .alias("__old__"))
            .select("node", (-F.col("m.nl")).alias("label"), "__old__")
            .observe(obs, F.count(F.when(
                F.col("label") != F.col("__old__"), 1))
                .alias("__changed__")))
        done = (it == iters - 1) or obs.get["__changed__"] == 0
        if prev_mat is not None:
            release(prev_mat)  # eager materialize above consumed it
        prev_mat = new
        lab = new.select("node", "label")
        if done:
            break
    # with iters=0 `lab` still derives from `sym` (see pagerank note)
    if prev_mat is not None:
        release(sym)
    return lab


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 3, damping: float = 0.85,
             ordered: bool = False) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → (node, rank).

    The second iterative §3-C workload next to connected_components:
    each iteration is one join (ranks ⋈ edges) + one aggregation, both
    hash-partitioned on node id; ranks are materialized per round
    (checkpoint.materialize) to truncate lineage, and the 16 B/node
    rank relation is broadcast to the edge scan while it fits
    (_broadcast_if_fits). Simple variant:
    dangling-node mass is dropped (not redistributed) — deterministic
    and replayed identically by the SQL oracle.

    Float determinism: the default sums neighbor contributions with the
    codegen'd partial aggregate (order non-deterministic across
    partitions — the scale path). ``ordered=True`` folds contributions
    in neighbor-id order (collect_list → array_sort → left fold), so
    every double is BITWISE reproducible in any engine that folds the
    same order — the oracle-replayable mode. Cost: per-NODE interpreted
    lambda + the in-degree-sized array; a hub node with millions of
    in-edges should use the default mode.
    """
    e = (edges.select(F.col(src).cast("long").alias("s"),
                      F.col(dst).cast("long").alias("d"))
         .distinct())
    e = materialize(e)
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select(F.col("d").alias("node"))).distinct())
    # |nodes| rides the materialize action (r15 Observation fold) —
    # no separate count job
    obs_n = Observation()
    nodes = materialize(
        nodes.observe(obs_n, F.count(F.lit(1)).alias("__rows__")))
    n = obs_n.get["__rows__"]
    hint = _broadcast_if_fits(edges.sparkSession, 16, n)
    # an empty graph has no node to rank: dividing by 1 instead of 0
    # keeps the constant-folded 1/n from raising DIVIDE_BY_ZERO
    nf = F.lit(float(max(n, 1)))
    # materialized: referenced by the contribution join EVERY iteration
    deg = materialize(
        e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg")))
    # both literals forced double so Spark and the SQL replay compute
    # the identical IEEE (1.0-0.85)/N and d*S — DuckDB would otherwise
    # parse 0.85 as DECIMAL and disagree in the last ulp
    base = (F.lit(1.0) - F.lit(float(damping))) / nf
    rank = nodes.select("node", (F.lit(1.0) / nf).alias("r"))
    prev_mat = None           # superseded rounds release() their blocks
    for _ in range(iters):
        contrib = (e.join(hint(rank), e.s == rank.node)
                   .join(deg, on="s")
                   .select(F.col("d").alias("node"),
                           F.col("s").alias("nbr"),
                           (F.col("r") / F.col("outdeg")).alias("c")))
        if ordered:
            summed = (contrib.groupBy("node")
                      .agg(F.array_sort(F.collect_list(
                          F.struct(F.col("nbr").alias("s"),
                                   F.col("c").alias("c")))).alias("xs"))
                      .select("node", F.expr(
                          "aggregate(xs, CAST(0.0 AS DOUBLE), "
                          "(acc, x) -> acc + x.c)").alias("in_sum")))
        else:
            summed = contrib.groupBy("node").agg(
                F.sum("c").alias("in_sum"))
        rank = materialize(
            nodes.join(summed, on="node", how="left")
            .select("node",
                    (base + F.lit(float(damping))
                     * F.coalesce(F.col("in_sum"), F.lit(0.0)))
                    .alias("r")))
        if prev_mat is not None:
            release(prev_mat)  # eager materialize above consumed it
        prev_mat = rank
    # the final rank is lineage-free ONLY when the loop materialized
    # at least one round; with iters=0 it still derives from `nodes`,
    # whose blocks must then survive (localCheckpoint truncates
    # lineage, so a released input fails instead of recomputing)
    if prev_mat is not None:
        for aux in (e, nodes, deg):
            release(aux)
    return rank.select("node", F.col("r").alias("rank"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge list.

    DEGREE-ORIENTED edge-iterator counting (the standard power-law
    guard: Chiba–Nishizeki / "rank by degree"): every deduped edge is
    directed from its lower-(degree, id) endpoint to the higher one —
    an acyclic orientation, so each triangle {x<y<z in rank order}
    closes exactly once, at its x→y edge (z ∈ N⁺(x) ∩ N⁺(y); the
    other two edges contribute nothing). The count is therefore
    Σ_{(u,v)} |N⁺(u) ∩ N⁺(v)| over directed edges, computed as two
    adjacency-array attaches + a native array_intersect per edge — no
    wedge relation is ever materialized (41M rows at sf0.1; the
    intersect formulation ran 3x faster than the wedge self-join +
    closing probe it replaced). Out-degrees are O(√m)-bounded under
    this orientation, so per-edge arrays and total intersect work are
    O(m^1.5) on ANY graph, hubs included, instead of Σdeg² blowing up
    on power-law inputs.

    Scale shape: one degree aggregation, two degree-attach joins, one
    adjacency aggregation, two adjacency attaches — all equi-joins on
    a single node key; adjacency broadcast when the directed edge list
    fits executor memory, shuffled past that cap (the any-scale
    path); no cartesian anywhere. Returns a 1-row DataFrame
    (n_triangles)."""
    e = (edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"))
         .filter(F.col("a") < F.col("b"))
         .distinct())
    # scanned by deg (twice) and the degree-attach join: one compute
    e = materialize(e)
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # attach both endpoint degrees, orient low-(d, id) -> high-(d, id)
    ed = (e.join(deg.select(F.col("n").alias("a"),
                            F.col("d").alias("da")), on="a")
          .join(deg.select(F.col("n").alias("b"),
                           F.col("d").alias("db")), on="b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    d_e = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"))
    # referenced three times below (edge stream + both adjacency
    # attaches); unmaterialized, each reference recomputes both
    # degree-attach joins — materialize once, release on exit. The
    # edge count for the broadcast-tier decision rides the same
    # action (r15 Observation fold)
    obs_m = Observation()
    d_e = materialize(
        d_e.observe(obs_m, F.count(F.lit(1)).alias("__rows__")))
    # per-u out-neighbor sets; arrays are O(√m)-bounded by the
    # orientation, so no single row can blow up
    adj = d_e.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    # Broadcast the adjacency while its payload fits executor memory;
    # past the cap — a 100 TB graph — fall back to shuffling the
    # attaches on u / v, still O(m^1.5) bytes, never Σdeg². The
    # payload is EXACTLY m neighbor entries (8 B each) + one ~48 B
    # row per node, so size it by bytes, not edge count: the r11 cap
    # of 8M edges pushed the 12M-edge sf1 graph onto the shuffled
    # path and cost 5x wall (118.6s -> 25.8s measured, the r12 sweep-
    # tail profile) even though its ~140 MB adjacency broadcasts
    # trivially. Two tiers so the common small case pays no extra
    # action: <= 8M edges broadcasts outright; otherwise count nodes
    # off the materialized blocks and broadcast under ~512 MB.
    m_edges = obs_m.get["__rows__"]
    if m_edges <= 8_000_000:
        bcast = True
    elif m_edges <= 64_000_000:
        n_nodes = adj.count()
        bcast = 8 * m_edges + 48 * n_nodes <= 512 * 1024 * 1024
    else:
        bcast = False
    side = (lambda df: F.broadcast(df)) if bcast else (lambda df: df)
    closed = (d_e.join(side(adj), on="u")
              .join(side(adj.select(F.col("u").alias("v"),
                                    F.col("nbrs").alias("nbrs_v"))),
                    on="v")
              .select(F.size(F.array_intersect("nbrs", "nbrs_v"))
                      .alias("c")))
    # the count is eager (1-row materialize) so the big intermediates
    # can be released before returning; the caller gets a tiny
    # lineage-free frame
    out = materialize(
        closed.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                   .alias("n_triangles")))
    release(e)
    release(d_e)
    return out


def k_core(edges: DataFrame, k: int = 2, src: str = "src",
           dst: str = "dst", iters: int | None = None) -> DataFrame:
    """k-core peeling → (node, degree): repeatedly "remove every node
    with degree < k" over the symmetric simple graph (self-edges and
    NULL endpoints dropped; parallel edges and both orientations of an
    edge collapse). The classic graph-quality filter (link-spam cores,
    dense community seeds) beside CC/LPA/pagerank/triangles.

    ``iters=None`` (default) peels to the FIXPOINT — rounds continue
    until no node is removed, so the result is the true k-core at any
    graph diameter (a non-final round removes ≥1 node, so it
    terminates in ≤|nodes| rounds). A fixed integer ``iters`` returns
    exactly what that many synchronous rounds return — each round is
    deterministic (one exact-degree aggregation over the edges whose
    endpoints both survived the previous round), so it replays
    identically in SQL (the unrolled-CTE oracle mode); deep-diameter
    graphs get a superset of the core under this mode, by contract.
    Rounds after one that removes no node would repeat it, so they are
    skipped in both modes.

    Round state is node-sized. The undirected edge list is
    materialized ONCE, as canonical (u < v) pairs; because the alive
    sets only shrink (A_i ⊆ A_{i-1}), round i's surviving edges are
    exactly the pairs with both ends in A_{i-1}, so a round is two
    semi-joins of the pairs against the previous alive set (broadcast
    while its 8 B/node fits, _broadcast_if_fits) plus a degree count
    (``explode(array(u, v))``, partial-agg friendly), and what it
    materializes is the alive set with its degrees — never an
    edge list. |A_i| rides each materialize action (an Observation);
    a round removed nothing when |A_{i+1}| == |A_i| (nested sets:
    equal sizes mean equal sets). The returned frame is the last
    round itself; the pair list and superseded rounds are released
    before returning.
    """
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    # least/greatest skip a NULL argument, but u < v is then false
    # (x < x, or NULL): self-loops and NULL endpoints both drop here
    pairs = materialize(
        e.select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
        .filter(F.col("u") < F.col("v")).distinct())

    def peel(alive: DataFrame | None, n: int) -> tuple[DataFrame, int]:
        """(node, degree >= k) over the pairs with both ends in
        ``alive`` (all pairs when None), materialized, and its size."""
        p = pairs
        if alive is not None:
            hint = _broadcast_if_fits(edges.sparkSession, 8, n)
            for c in ("u", "v"):
                p = p.join(hint(alive.select(F.col("node").alias(c))),
                           c, "left_semi")
        obs = Observation()
        d = materialize(
            p.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
            .filter(F.col("degree") >= k)
            .observe(obs, F.count(F.lit(1)).alias("__rows__")))
        return d, obs.get["__rows__"]

    # the j-th peel() materializes A_j (A_0 = every node) with its
    # degrees over the pairs inside A_{j-1}; ``iters`` rounds return
    # the (iters + 1)-th: the degrees over the pairs inside A_iters
    cur, n = peel(None, 0)
    for _ in range(iters) if iters is not None else itertools.count():
        nxt, m = peel(cur, n)
        release(cur)           # eager materialize inside peel
        cur = nxt
        if m == n:
            break
        n = m
    release(pairs)
    return cur
