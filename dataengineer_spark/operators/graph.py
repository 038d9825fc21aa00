"""Iterative graph analytics over relational edge lists.

Companion to the min-label connected-components loop in
``operators/dedup.py`` (the cluster-collapse step of near-dup dedup):
this module holds general graph measures computed the same Spark-native
way — the graph is a plain (src, dst) DataFrame, every iteration is one
hash join plus one partially-aggregated groupBy on the node key, and a
lineage cut every few rounds keeps a 20-round loop from building a
20-deep plan.  No GraphX/RDDs: the edge list at 100 TB is just another
shuffled table, and Catalyst handles the join strategy per round.

Determinism contract (shared with the engine's other float reducers):
per-node contributions are rounded then summed as exact decimals, so
rank vectors are bit-identical across engines and partitionings — a SQL
oracle can replay the whole power iteration as unrolled CTE stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.tuning import (
    lineage_cut,
    sql_literal,
    temp_view,
    tie_lifetime,
    transient_persist,
)


def _session_width(spark) -> int:
    """Parallelism the session is configured for: max(defaultParallelism,
    shuffle partitions).  The conf parse is defensive — platforms can set
    spark.sql.shuffle.partitions to a non-numeric value (e.g. 'auto'
    under some AQE distributions), and a ValueError at plan-build time
    would crash the whole query (ADVICE r10)."""
    sc = spark.sparkContext
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        conf_width = int(raw)
    except (TypeError, ValueError):
        conf_width = sc.defaultParallelism
    return max(sc.defaultParallelism, conf_width)


def _lake_width(df: DataFrame) -> int:
    """Jobless scan-width signal for a frame read from a lake: the
    distinct input file count, from the plan's FileIndex METADATA — no
    Spark job runs (unlike an `.rdd.getNumPartitions()` probe, which
    plans and executes the physical scan).  Under the engine's lake
    contract (compaction targets 128 MB files) file count ≈ scan split
    count, so `max(session_width, lake_width)` keeps a corpus-sized
    frame's parallelism from collapsing to a small session conf.
    Purely in-memory/derived frames report no files → 0 (callers fall
    back to the session width via the max)."""
    try:
        return len(df.inputFiles())
    except Exception:
        return 0


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    checkpoint_every: int = 8,
    broadcast_node_limit: int = 1_000_000,
    dangling: str = "leak",
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration on an edge list.

    Per round: each node ships ``rank / out_degree`` along its out-edges,
    and every node's new rank is ``(1-d)/N + d * Σ contributions``.  The
    contribution is rounded to 14 digits and summed as DECIMAL(38,14),
    so the Σ is exact and order-independent; the new rank is re-rounded
    to 12 digits — the float sequence is reproducible on any engine and
    any partition count.

    Plan shape: two ``transient_persist`` frames, then ONE SQL statement
    for the whole power iteration (a CTE triple per round: contributions,
    their sum per node, the left join onto the node set for the teleport
    floor), parsed and analysed once instead of built from ~20 DataFrame
    calls per round.  The stored frames are

    - the edge list, hash-partitioned on ``_dst``;
    - the node universe src ∪ dst with each node's out-degree (one
      aggregate over the stored edges, so the edge build runs once),
      hash-partitioned on ``node`` at the same width.  The rank vector
      carries the degree, so the contribution ``rank / degree`` needs no
      degree on the edges.

    A persisted frame keeps its partitioning (``tuning.transient_persist``;
    a lineage cut does not), so while the node count — an exact
    control-plane scalar, paid for by the teleport term — is at most
    ``broadcast_node_limit`` (~24 MB of (key, rank) rows at the 1 M
    default), each round broadcasts the rank vector into the join on
    ``_src`` over the stored edges, sums per ``_dst`` where the blocks
    lie, and joins the node set partition by partition: one broadcast
    job and no exchange per round.  (Without the explicit broadcast AQE
    planned a shuffle join and coalesced the ~24 MB contribution
    exchange to one task, so every round ran single-threaded — round 8.)
    Past the limit the rank vector is big: the edges are stored
    partitioned on ``_src`` instead, the contribution join is
    co-partitioned with the rank vector, and the contributions shuffle
    once per round.  The width is max(session confs, lake file count),
    both metadata-only reads; an explicit width also stops AQE from
    coalescing the stored blocks into a few fat partitions (the r10
    sf0.1 A/B: 2× slower).  A teleport-floor variant that fuses the left
    join into the aggregate was measured and rejected in round 8
    (13.0 s fused vs 10.5 s join form at sf0.1).

    The node universe is src ∪ dst, so source-only nodes keep a rank at
    the teleport floor and sink-only nodes are ranked too.  The round
    loop stays in Python and emits SQL text; every ``checkpoint_every``
    rounds the rank vector is lineage-cut and the next statement starts
    from the cut, which bounds plan depth on long convergence runs.

    ``dangling`` (VERDICT r10 item 4): with the default ``"leak"``,
    sink nodes (no out-edges) contribute nothing forward and their rank
    mass drains out of the system each round — fine for symmetrized
    (undirected) inputs, which have no sinks, and kept as the default so
    existing result hashes stay pinned.  ``"redistribute"`` implements
    standard PageRank: each round the dangling nodes' total rank is
    spread uniformly, ``rank = (1-d)/N + d*(sum contrib + leak/N)``.
    The leak is a scalar aggregate over the sink-flagged rank rows,
    broadcast-cross-joined into the round; its float path is
    deterministic like the contributions (ranks rounded/14 and summed as
    DECIMAL(38,14), ``leak/N`` re-rounded/14 in double), so a SQL oracle
    replays it bit-for-bit.  A redistribute round reads the previous
    rank vector twice, so each round is its own statement over a lazy
    cut of the last one — chained, the plan would double per round.

    Output: (node, rank) with rank rounded to 8 digits.  The stored
    frames, their views and the cuts are freed when the result is
    garbage-collected.
    """
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"pagerank: dangling must be 'leak' or 'redistribute', got "
            f"{dangling!r}"
        )
    redistribute = dangling == "redistribute"
    spark = edges.sparkSession
    n_parts = max(_session_width(spark), _lake_width(edges))
    e = transient_persist(
        edges.selectExpr(f"`{src}` AS _src", f"`{dst}` AS _dst").repartition(
            n_parts, "_dst"
        )
    )
    # the node set carries each node's out-degree (a sink's is 0; NULL is
    # never one: no rank row joins it)
    node_set = (
        e.selectExpr("_src AS node", "1 AS _o")
        .unionAll(e.selectExpr("_dst AS node", "0 AS _o"))
        .groupBy("node")
        .agg(F.sum("_o").alias("_deg"))
    )
    if redistribute:
        node_set = node_set.selectExpr("*", "node IS NOT NULL AND _deg = 0 AS _sink")
    nodes = transient_persist(node_set.repartition(n_parts, "node"))
    # the count fills both stores (the node set reads the stored edges)
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty edge list: empty rank vector, not a ZeroDivisionError
        nodes.unpersist()
        e.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank")).where(F.lit(False))
    small_ranks = n_nodes <= broadcast_node_limit
    stored = [e, nodes]
    if not small_ranks:
        e = transient_persist(e.repartition(n_parts, "_src"))
        stored.append(e)
    sql = _PagerankSql(
        temp_view(e), temp_view(nodes), n_nodes, damping, small_ranks,
        redistribute,
    )
    prev = None
    first = 1
    for i in range(1, iterations):
        if redistribute or i % checkpoint_every == 0:
            # redistribute: a lazy cut per round (see docstring)
            cut = lineage_cut(
                spark.sql(sql.rounds(prev, first, i)), eager=not redistribute
            )
            prev = temp_view(cut)
            stored.append(cut)
            first = i + 1
    out = spark.sql(
        sql.rounds(prev, first, iterations, "SELECT node, round(rank, 8) AS rank")
    )
    for frame in stored:
        out = tie_lifetime(out, frame)
    return out


class _PagerankSql:
    """SQL text of ``pagerank``'s rounds over the stored edge and node
    views: ``rounds(prev, first, last)`` runs rounds ``first..last`` from
    the rank view ``prev`` (the uniform start when None) and selects
    ``r{last}``.  Every float step is the one the oracle replays."""

    def __init__(self, edges, nodes, n_nodes, damping, small, redistribute):
        self.edges, self.nodes, self.n = edges, nodes, n_nodes
        self.d = sql_literal(damping)
        self.base = sql_literal((1.0 - damping) / n_nodes)
        self.small, self.redistribute = small, redistribute
        self.keep = ", _deg, _sink" if redistribute else ", _deg"

    def rounds(self, prev, first, last, select=None):
        ctes = []
        if prev is None:
            prev = f"r{first - 1}"
            ctes.append(
                f"{prev} AS (SELECT node{self.keep}, "
                f"round({sql_literal(1.0 / self.n)}, 12) AS rank "
                f"FROM {self.nodes})"
            )
        for i in range(first, last + 1):
            ctes += self._round(prev, i)
            prev = f"r{i}"
        select = select or f"SELECT node{self.keep}, rank"
        return f"WITH {', '.join(ctes)} {select} FROM {prev}"

    def _round(self, prev, i):
        # small: broadcast the rank vector over the _dst-partitioned
        # edges; big: the _src-partitioned edges meet the node-partitioned
        # rank vector in place.  The node-sized build side of the floor
        # join is hashed in place either way (never a second broadcast)
        hint = "BROADCAST(r)" if self.small else "SHUFFLE_HASH(r)"
        contribs = (
            f"c{i} AS (SELECT /*+ {hint} */ e._dst AS node, "
            f"CAST(round(r.rank / r._deg, 14) AS DECIMAL(38,14)) AS _c "
            f"FROM {self.edges} e JOIN {prev} r ON e._src = r.node)"
        )
        if not self.redistribute:
            return [
                contribs,
                f"a{i} AS (SELECT node, round({self.base} + {self.d} * "
                f"CAST(sum(_c) AS DOUBLE), 12) AS rank FROM c{i} GROUP BY node)",
                f"r{i} AS (SELECT /*+ SHUFFLE_HASH(a) */ n.node, n._deg, "
                f"coalesce(a.rank, round({self.base}, 12)) AS rank "
                f"FROM {self.nodes} n LEFT JOIN a{i} a ON n.node = a.node)",
            ]
        dec = "DECIMAL(38,14)"
        return [
            contribs,
            f"l{i} AS (SELECT round(CAST(coalesce(sum(CAST(round(rank, 14) "
            f"AS {dec})) FILTER (WHERE _sink), CAST(0 AS {dec})) AS DOUBLE) "
            f"/ {self.n}, 14) AS lk FROM {prev})",
            f"a{i} AS (SELECT node, sum(_c) AS _sc FROM c{i} GROUP BY node)",
            f"r{i} AS (SELECT /*+ SHUFFLE_HASH(a), BROADCAST(l) */ n.node, "
            f"n._deg, n._sink, coalesce(round({self.base} + {self.d} * "
            f"(CAST(a._sc AS DOUBLE) + l.lk), 12), "
            f"round({self.base} + {self.d} * l.lk, 12)) AS rank "
            f"FROM {self.nodes} n LEFT JOIN a{i} a ON n.node = a.node "
            f"CROSS JOIN l{i} l)",
        ]


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_node_limit: int = 1_000_000,
) -> DataFrame:
    """Global triangle census over a canonical undirected edge list

    (callers pass each edge once as src < dst, deduplicated): the
    EDGE-ITERATOR algorithm over DEGREE-ORDERED forward adjacency
    lists.  Edges are re-oriented low-degree -> high-degree (ties by
    id), defining a total order x ≺ y iff (deg(x), x) < (deg(y), y);
    triangle {x ≺ y ≺ z} is counted exactly once, at its ≺-smallest
    edge (x, y), as a member of adj⁺(x) ∩ adj⁺(y).  Each node's forward
    neighbours are collected once (one hash aggregate, array-valued),
    the lists are attached to both endpoints of every oriented edge,
    and the per-edge intersection size sums to the global count.
    Counts are orientation-invariant — any total order yields the same
    census — so results are bit-identical to the round-10 id-ordered
    form and to the SQL oracle.

    Why degree order (VERDICT r10 item 3): under id order a hub's
    forward list holds nearly its whole neighbourhood, so the probe
    join ships that array once per incident edge — the round-10 sf10
    probe measured the adjacency exchange at ~58 GB for a 120 M-edge
    co-purchase graph (14.85 B wedges).  Degree order caps every
    forward list at O(√m) (the classic arboricity bound: a node keeps
    only neighbours of ≥ its own degree, and only √(2m) nodes have
    degree ≥ √(2m)), which shrinks Σ|adj⁺| bytes shipped per edge and
    bounds the worst per-partition hash-build skew.  The orientation
    itself costs two joins of the edge list against the node-sized
    degree table — map-side cheap next to the probe exchange it trims.

    Why not the wedge-join form ((x,y)⋈(y,z) then semi-check (x,z)):
    its intermediate IS the ordered-wedge set — the round-10 sf10 probe
    measured 14.85 × 10⁹ wedge rows off the 120 M-edge graph, and the
    closing join's sort of that stream overflowed a 48 GB/80 GB local
    node (UnsafeExternalSorter spill -> disk full).  The edge-iterator
    never materialises wedges: the only corpus-sized shuffle carries
    one adjacency array per edge endpoint (~58 GB at that probe before
    degree ordering, no sort anywhere), and the Σ deg² work happens
    inside ``array_intersect`` without ever becoming rows.

    Wedge totals come from the UNDIRECTED degree distribution
    (unchanged by orientation); the global clustering coefficient
    closes on scalars.  All counts integral -> engine-exact;
    coefficient rounds to 6.

    Output: one row (n_nodes, n_edges, n_wedges, n_triangles,
    clustering_coeff).

    The canonical edge list is referenced several times (degree union
    twice, edge count, orientation) and the oriented list twice
    (adjacency build, intersection probe) — callers hand in a derived
    frame (typically a self-join + distinct), so without caches the
    heaviest subtrees execute once per reference (round-10 plan audit:
    25 exchanges, most of them the edge build repeating).  Transient
    persists make each compute-once; lifetimes ride the returned census
    frame.
    """
    e = transient_persist(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    # UNDIRECTED degree: feeds the wedge count AND the orientation (3
    # references) — node-sized, persist once
    deg = transient_persist(
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    counts = deg.agg(
        F.count("*").alias("n_nodes"),
        # d*(d-1) is even, so a right-shift is EXACT integer halving —
        # `/ 2` would detour through a double and lose exactness past
        # 2^53 (hub nodes at 100 TB reach ~1e16 wedges)
        F.shiftright(F.sum(F.col("d") * (F.col("d") - 1)), 1)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    # degree-ordered orientation: (a, b) becomes (u, v) with u ≺ v under
    # (deg, id) order.  a < b canonically, so the tie-break keeps (a, b).
    # Join strategy for the node-sized degree sides (round-12, guide
    # §3.1 — the SHUFFLE_HASH hint is preserved through AQE's
    # re-optimization, so "AQE upgrades tiny sides" never actually
    # fired): the exact node count — a driver scalar whose job doubles
    # as the materialization of the deg/e persists every later stage
    # reads — picks an explicit broadcast when the degree table fits
    # (≤ ``broadcast_node_limit`` rows ≈ 16 MB of (node, d)), which
    # makes BOTH orientation joins map-side over the persisted edge
    # blocks instead of shuffling the edge list twice (A/B'd −0.9 s of
    # the 4.0 s census at sf0.1, bit-identical counts).  Past the limit
    # the degree table is genuinely big and the hinted shuffle-hash
    # join IS the right plan (an SMJ would sort the edge list twice).
    n_nodes_exact = deg.count()
    small_deg = n_nodes_exact <= broadcast_node_limit
    da = deg.select(F.col("node").alias("_an"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("_bn"), F.col("d").alias("_db"))
    if small_deg:
        da, db = F.broadcast(da), F.broadcast(db)
    else:
        da, db = da.hint("shuffle_hash"), db.hint("shuffle_hash")
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    fwd = transient_persist(
        e.join(da, F.col("a") == F.col("_an"))
        .join(db, F.col("b") == F.col("_bn"))
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # forward adjacency: node -> its ≺-greater neighbours.  Node-COUNT
    # rows but Σ fdeg = m total array entries, i.e. edge-list-sized
    # BYTES (each row carries its full neighbour array) — degree
    # ordering caps any one array at O(√m), bounding the per-partition
    # build skew.  A triangle {x ≺ y ≺ z} appears EXACTLY at edge
    # (x, y): z is a forward neighbour of both x and y, while at
    # (x,z)/(y,z) the third vertex precedes the endpoint and is in
    # neither forward list.
    # shuffle_hash, not sort-merge: the probe side of the second join
    # carries an adjacency array per edge — Σ deg longs, ~58 GB at the
    # r10 sf10 probe — and an SMJ SORTS that stream (measured: 43 GB
    # disk spill, 715 s wall; hinted SHJ streams it sort-free).  The
    # trade: ShuffledHashJoin's build side cannot spill, so the
    # adjacency partition being built must fit executor memory — degree
    # ordering is what keeps hub-skewed partitions from concentrating
    # there (the same no-spill caveat applies to the BFS frontier
    # hint when a level's frontier approaches the node universe).
    adj = fwd.groupBy(F.col("u").alias("node")).agg(
        F.collect_list("v").alias("nbrs")
    ).hint("shuffle_hash")
    empty = F.array().cast(dict(adj.dtypes)["nbrs"])
    tri = (
        # inner join is exact: adj⁺(u) always contains v (the edge
        # itself), so every edge's u-side matches a row
        fwd.join(adj, F.col("u") == adj["node"], "inner")
        .select(F.col("v").alias("_y"), F.col("nbrs").alias("_nx"))
        # v may have NO forward neighbours (≺-maximal in its
        # component) — left join + empty list, intersection 0
        .join(adj, F.col("_y") == adj["node"], "left")
        .select(
            F.size(
                F.array_intersect(F.col("_nx"), F.coalesce("nbrs", empty))
            ).alias("_t")
        )
        # coalesce: an empty edge list must census 0 triangles, not NULL
        .agg(
            F.coalesce(F.sum("_t"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )
    out = counts.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))
    out = out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("n_wedges"),
            ).otherwise(0.0),
            6,
        ).alias("clustering_coeff"),
    )
    return tie_lifetime(tie_lifetime(tie_lifetime(out, e), deg), fwd)


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 3,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Multi-source BFS: shortest hop distance from any seed node, out to

    ``max_depth`` hops — the reachability / blast-radius primitive.
    Frontier expansion: each round joins the edge list against the
    previous frontier (one shuffle join), anti-joins the visited set so
    a node keeps its FIRST (minimal) level, and unions into the distance
    table.  Every round's frontier is lineage-cut LAZILY: it is
    referenced TWICE (unioned into the distance table AND joined as the
    next frontier), and each round's plan embeds the previous rounds'
    — without the cut the chained DAG re-expands prior frontiers
    exponentially in depth (round-8 audit: the depth-3 plan carried 87
    exchanges; with per-round cuts it is a handful, each frontier
    computed exactly once under the single final job).
    ``checkpoint_every`` additionally cuts the accumulated distance
    table on deep traversals.  All-integer levels → deterministic on
    any engine or partitioning.

    Output: (node, dist) for every node within ``max_depth`` hops of a
    seed (seeds themselves at dist 0).
    """
    # lazy cut: BFS builds one chained DAG with no build-time job (the
    # blocks still materialize once at first action and free on frame GC).
    # Round-12 hash-partitions the stored edge blocks on the per-level
    # join key at an explicit width, meant to let every level's frontier
    # join co-locate against them.  A localCheckpoint frame scans with an
    # unknown partitioning on Spark 4.1, though, so the planner does not
    # see that layout (tuning.lineage_cut): the keyed repartition keeps
    # its explicit width against AQE's coalescing but saves no shuffle.
    n_parts = max(_session_width(edges.sparkSession), _lake_width(edges))
    e = lineage_cut(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .repartition(n_parts, "_src"),
        eager=False,
        serialized=True,  # edge-list-sized
    )
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().select(
        "node", F.lit(0).alias("dist")
    )
    frontier = dist
    for depth in range(1, max_depth + 1):
        nxt = lineage_cut(
            bfs_level_plan(e, frontier, dist, depth, src="_src", dst="_dst"),
            eager=False,
        )
        dist = dist.unionByName(nxt)
        frontier = nxt
        if depth % checkpoint_every == 0 and depth < max_depth:
            dist = lineage_cut(dist)
    return dist


def bfs_level_plan(
    edges: DataFrame,
    frontier: DataFrame,
    visited: DataFrame,
    depth: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """ONE frontier-expansion level of ``bfs_distances`` — the loop's
    stable sub-shape, factored out so the plan gate can pin its join
    strategy (VERDICT r10 item 6: the full BFS is loop-built over
    lineage cuts and not pinnable as a whole; this one-level plan is,
    via the oracled ``q_graph_bfs_level``).

    shuffle_hash on the frontier (build) side: the frontier is
    node-bounded while the probe side is the full edge list — an SMJ
    here re-SORTS the edges every level (the r10 sf10 probe planned
    exactly that once the frontier outgrew broadcast: 180 M rows sorted
    per level for a hash lookup's worth of work); AQE still upgrades to
    broadcast when a level's frontier is tiny.  SHJ's build side cannot
    spill, so a frontier approaching the node universe must fit the
    per-partition hash build — node-bounded by construction, same
    caveat as the triangle adjacency hint.  ``frontier`` must expose a
    ``node`` column; ``visited`` holds (node, ...) rows already
    reached (the anti join keeps first/minimal levels)."""
    return (
        edges.join(
            frontier.select("node").hint("shuffle_hash"),
            F.col(src) == F.col("node"),
        )
        .select(F.col(dst).alias("node"))
        .distinct()
        .join(visited, "node", "left_anti")
        .select("node", F.lit(depth).alias("dist"))
    )
