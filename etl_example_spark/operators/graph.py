"""Graph operators over relational tables — PageRank on the event
transition graph (the sibling of dedup.dedup_clusters' connected
components: iterative driver loop, edge-table-sized distributed work per
round, nothing corpus-scale ever reaches the driver).

Determinism contract (the registry-wide rule): ranks live in integer
micro-units (initial 1,000,000 per node) and every update is integer
arithmetic — contribution ``(r·c) div W``, damping
``teleport + (d_pct · inbound) div 100`` — so the k-iteration fixpoint
is bit-identical across engines and the DuckDB oracle can unroll the
same iterations as chained CTEs. Truncation makes total rank drift
below N·1e6 (as does dangling-node leakage, the standard simplified
variant); ORDERING of ranks — what PageRank is used for — is preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Shared DuckDB prefix for every transition-graph oracle: node = the
#: 'k' prop; directed steps from per-user consecutive events ordered by
#: (ts, event_id); ``de`` is the distinct undirected (u < v) edge set.
EVENT_GRAPH_SQL = """
        ev AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS page
            FROM events
            -- a user step needs its user and its time: besides being
            -- undefined, a NULL ts would ORDER differently on the two
            -- engines (Spark ASC nulls-first, DuckDB nulls-last) and
            -- silently rewire the user's transition sequence
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        tr AS (
            SELECT page AS src,
                   LEAD(page) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
            FROM ev
        ),
        de AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM tr WHERE dst IS NOT NULL AND src != dst
        )"""


def _sequenced_events(
    events: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """The rows the event graph is built FROM: user and primary order
    column non-null (EVENT_GRAPH_SQL's ``ev`` filter) — the single
    definition :func:`transition_edges` and :func:`event_graph_nodes`
    both apply, so edges and vertices can never use different row
    sets."""
    return events.filter(
        F.col(user_col).isNotNull() & F.col(order_cols[0]).isNotNull()
    )


def transition_edges(
    events: DataFrame,
    node_col,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Weighted directed edges from consecutive per-user events:
    ``(src, dst, c)`` where c counts user-step transitions src→dst.
    One window shuffle on the user key; edge weights aggregate
    map-side before their shuffle.

    Rows missing the user or the primary order column are dropped: a
    step needs both, and a NULL order value would sequence differently
    across engines (Spark ASC is nulls-first, SQL engines default
    nulls-last) — the EVENT_GRAPH_SQL oracles filter identically.
    SECONDARY order columns are not filtered (a row with a valid
    primary key still sequences) but order nulls-LAST explicitly, so a
    NULL-able tie-break column sorts the same here as in the SQL
    oracles' default instead of Spark's nulls-first ASC."""
    from pyspark.sql import Window

    events = _sequenced_events(events, user_col, order_cols)
    w = Window.partitionBy(user_col).orderBy(
        F.col(order_cols[0]).asc(),
        *[F.col(c).asc_nulls_last() for c in order_cols[1:]],
    )
    steps = events.select(
        node_col.alias("src"), F.lead(node_col).over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    return steps.groupBy("src", "dst").agg(F.count("*").alias("c"))


def event_graph_nodes(
    events: DataFrame,
    node_col,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """The event graph's vertex set — distinct non-null node values from
    exactly the rows :func:`transition_edges` sequences (user and
    primary order column non-null, via the SAME ``_sequenced_events``
    filter, so the two cannot drift: pass identical ``user_col``/
    ``order_cols`` to both and the vertex set is definitionally the
    sequenced rows' node set, mirroring EVENT_GRAPH_SQL's ``ev``). A
    page appearing ONLY in NULL-user/NULL-ts events contributes no
    step, so it must not appear as an isolated vertex either."""
    return (
        _sequenced_events(events, user_col, order_cols)
        .select(node_col.alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 4,
    damping_pct: int = 85,
) -> DataFrame:
    """``iters`` rounds of integer-exact PageRank over (src, dst, c)
    edges; ``nodes`` is a one-column (node) table fixing the vertex set
    (sources, sinks, and isolates all get the teleport term).

    Per round: one edge⋈rank join on src (the rank table is
    node-count-sized — broadcastable in practice, and AQE decides), one
    shuffle of (dst, long) pairs for the inbound sum, one left join back
    to the vertex set. ``localCheckpoint`` pins each round so round k+1
    does not replay rounds 1..k (linear lineage, like bpe_train).
    Returns (node, rank_micro).
    """
    teleport = (100 - damping_pct) * 10_000
    outw = edges.groupBy("src").agg(F.sum("c").alias("w"))
    ranks = nodes.select(
        F.col("node"), F.lit(1_000_000).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * c) div w").alias("contrib"),
            )
        )
        inbound = contrib.groupBy("node").agg(
            F.sum("contrib").alias("inbound")
        )
        ranks = (
            nodes.join(inbound, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST({teleport} + ({damping_pct} * "
                    "coalesce(inbound, 0)) div 100 AS BIGINT)"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def pagerank_oracle_sql(iters: int = 4, damping_pct: int = 85) -> str:
    """Unrolled DuckDB twin of :func:`pagerank` over the event
    transition graph (node = the ``k`` prop; edges from per-user
    consecutive events ordered by (ts, event_id))."""
    teleport = (100 - damping_pct) * 10_000
    head = (
        EVENT_GRAPH_SQL
        + """,
        edges AS (
            SELECT src, dst, COUNT(*) AS c FROM tr
            WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        outw AS (SELECT src, SUM(c) AS w FROM edges GROUP BY src),
        -- NULL pages (events missing the 'k' prop) are not vertices:
        -- DuckDB ORDER BY defaults NULLS LAST vs Spark's NULLS FIRST,
        -- so an unfiltered NULL node would diverge in the ordered hash.
        nodes AS (SELECT DISTINCT page AS node FROM ev
                  WHERE page IS NOT NULL),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    )
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(
            f"""
        r{i} AS (
            SELECT n.node,
                   CAST({teleport} + ({damping_pct} * COALESCE(inb.s, 0))
                        // 100 AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, SUM((p.r * e.c) // o.w) AS s
                FROM edges e
                JOIN r{i - 1} p ON p.node = e.src
                JOIN outw o ON o.src = e.src
                GROUP BY e.dst
            ) inb ON inb.node = n.node
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f""" SELECT node, r AS rank_micro FROM r{iters} ORDER BY node"""
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected (u < v) edges from a directed edge table."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count via DEGREE-ORDERED edge orientation — the
    trick that makes the two-hop join survive skew: every edge points
    from its lower-(degree, id) endpoint to the higher one, so each
    node's out-degree is bounded by ~sqrt(|E|) even for celebrity nodes
    (a hub's edges mostly point INTO it), and the wedge join's per-key
    fan-out is bounded accordingly. The standard distributed triangle
    algorithm; a naive a<b<c triple self-join (the oracle's formulation
    — fine at oracle scale) puts a hub's full neighborhood on one key.

    Returns a single row (n_triangles).
    """
    und = undirected_edges(edges)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v"
    )
    oriented = (
        ranked.select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
        # three consumers (both wedge legs + the closing-edge side):
        # materialize once or the whole edge-extraction subtree (window,
        # distinct, degree joins) replays per consumer
        .localCheckpoint(eager=True)
    )
    w1 = oriented.select(F.col("a").alias("c"), F.col("b").alias("x"))
    w2 = oriented.select(F.col("a").alias("c"), F.col("b").alias("y"))
    wedges = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionAll(
        oriented.select(F.col("b").alias("x"), F.col("a").alias("y"))
    ).distinct()
    return wedges.join(closing, ["x", "y"]).agg(
        F.count("*").alias("n_triangles")
    )


def bfs_levels(
    edges: DataFrame, source_node, max_depth: int = 4
) -> DataFrame:
    """Unweighted shortest-path levels from ``source_node`` up to
    ``max_depth`` hops, by frontier expansion: each round joins the
    previous level set to the (undirected) edges and keeps newly
    reached nodes — per-round work is frontier-sized, lineage is
    truncated per round (localCheckpoint), and unreached nodes simply
    don't appear (no infinity sentinel). Returns (node, dist).
    """
    und = undirected_edges(edges)
    adj = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    reached = (
        edges.sparkSession.createDataFrame(
            [(source_node, 0)], ["node", "dist"]
        )
        .localCheckpoint(eager=True)
    )
    for depth in range(1, max_depth + 1):
        frontier = reached.filter(F.col("dist") == depth - 1)
        nxt = (
            frontier.join(adj, frontier.node == adj.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        reached = reached.unionByName(nxt).localCheckpoint(eager=True)
    return reached


def bfs_oracle_sql(max_depth: int = 4) -> str:
    """Unrolled DuckDB twin of :func:`bfs_levels` from the min event
    page node over the transition graph."""
    head = (
        EVENT_GRAPH_SQL
        + """,
        adj AS (
            SELECT u, v FROM de UNION ALL SELECT v AS u, u AS v FROM de
        ),
        src AS (SELECT MIN(page) AS s FROM ev),
        l0 AS (SELECT s AS node, 0 AS dist FROM src WHERE s IS NOT NULL)"""
    )
    parts = [head]
    union = ["SELECT node, dist FROM l0"]
    for d in range(1, max_depth + 1):
        prev_union = " UNION ALL ".join(union)
        parts.append(
            f"""
        l{d} AS (
            SELECT DISTINCT a.v AS node, {d} AS dist
            FROM l{d - 1} f JOIN adj a ON a.u = f.node
            WHERE a.v NOT IN (SELECT node FROM ({prev_union}))
        )"""
        )
        union.append(f"SELECT node, dist FROM l{d}")
    finals = " UNION ALL ".join(union)
    return (
        "WITH "
        + ",".join(parts)
        + f""" SELECT CAST(node AS BIGINT) AS node,
                      CAST(dist AS BIGINT) AS dist
        FROM ({finals}) ORDER BY dist, node"""
    )


def label_propagation(
    edges: DataFrame, nodes: DataFrame, iters: int = 2
) -> DataFrame:
    """Synchronous weighted LABEL PROPAGATION over the undirected
    transition graph — the community-detection sibling of
    :func:`pagerank` (and of dedup_clusters' connected components,
    which propagate MIN labels; this propagates MAJORITY labels, so
    densely linked node groups converge to one label while CC would
    merge anything merely connected). Deterministic by construction:
    labels start as node ids, each round every node adopts the label
    with the largest incident edge WEIGHT among its neighbors (ties →
    smallest label), isolated nodes keep theirs — synchronous rounds,
    integer weights, so a fixed iteration count is externally
    hash-verifiable (the oracle unrolls the same rounds; asynchronous
    LPA's update order dependence is exactly what this variant
    removes).

    Plan per round: one label join on the adjacency (edge-table-sized),
    one (node, label) weight aggregate, one argmax via the packed
    max_by struct, one left join back to the vertex set;
    ``localCheckpoint`` truncates lineage per round (the iterative
    discipline shared with pagerank and bpe_train). Nothing reaches
    the driver.
    """
    fwd = edges.filter(F.col("src") != F.col("dst"))
    adj = (
        fwd.select(
            F.col("src").alias("u"), F.col("dst").alias("v"), "c"
        )
        .unionByName(
            fwd.select(
                F.col("dst").alias("u"), F.col("src").alias("v"), "c"
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("c").cast("long").alias("w"))
    )
    labels = nodes.select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        best = (
            adj.join(labels, adj.v == labels.node)
            .groupBy("u", "label")
            .agg(F.sum("w").alias("wsum"))
            .groupBy("u")
            .agg(
                F.max_by(
                    "label",
                    F.struct(
                        F.col("wsum"), (-F.col("label")).alias("nl")
                    ),
                ).alias("new_label")
            )
        )
        labels = (
            labels.join(best, labels.node == best.u, "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def label_prop_oracle_sql(iters: int = 2) -> str:
    """The g04 oracle: weighted undirected adjacency from the shared
    transition CTEs, then every synchronous round unrolled — per round
    a (node, label) weight rollup, ROW_NUMBER argmax (weight DESC,
    label ASC — the engine's packed max_by tie-break), left-join
    fallback for isolated nodes."""
    sql = (
        "WITH "
        + EVENT_GRAPH_SQL
        + """,
        ed AS (
            SELECT src, dst, COUNT(*) AS c
            FROM tr WHERE dst IS NOT NULL AND src != dst
            GROUP BY src, dst
        ),
        adj AS (
            SELECT u, v, CAST(SUM(c) AS BIGINT) AS w FROM (
                SELECT src AS u, dst AS v, c FROM ed
                UNION ALL
                SELECT dst AS u, src AS v, c FROM ed
            ) GROUP BY u, v
        ),
        nodes AS (
            SELECT DISTINCT page AS node FROM ev
            WHERE page IS NOT NULL
        ),
        l0 AS (SELECT node, node AS label FROM nodes)"""
    )
    for i in range(1, iters + 1):
        sql += f""",
        n{i} AS (
            SELECT a.u, l.label, SUM(a.w) AS wsum
            FROM adj a JOIN l{i - 1} l ON l.node = a.v
            GROUP BY a.u, l.label
        ),
        b{i} AS (
            SELECT u, label FROM (
                SELECT u, label, ROW_NUMBER() OVER (
                    PARTITION BY u ORDER BY wsum DESC, label) AS rn
                FROM n{i})
            WHERE rn = 1
        ),
        l{i} AS (
            SELECT l.node, COALESCE(b.label, l.label) AS label
            FROM l{i - 1} l LEFT JOIN b{i} b ON b.u = l.node
        )"""
    return sql + f"""
        SELECT node, CAST(label AS BIGINT) AS label
        FROM l{iters} ORDER BY node
    """
