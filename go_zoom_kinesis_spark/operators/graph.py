"""Graph / sequence analytics derived from the star schema and the
event stream — fixed-iteration PageRank over the nation-level trade
graph, and top-k event-path mining.

The reference has no graph layer (its only "graph" is the linear
shard → batch → record dataflow, ref ``src/processor.rs:535-552``);
these are the downstream analytics a consumer would run over the
landed data, expressed Spark-first.

Determinism (MEMORY/driver contract):
- Edge weights are exact ``decimal(25,6)`` revenue sums; shares are a
  single IEEE double division of two exact decimals — bit-identical
  across engines.
- Each PageRank sweep sums the incoming contributions with an ordered
  fold (``array_sort`` on the source name) so the double result is
  bit-identical to DuckDB's ``list_reduce(list(... ORDER BY src))``.
- ``session_paths_topk`` output is integral counts with a full
  ``(n_paths DESC, path)`` tie-break on the limit.

Scale notes (100 TB):
- ``pagerank_nation_trade``: the expensive part is the edge-list
  build — one fact-fact shuffle (lineitem ⋈ orders on orderkey) with
  every dimension broadcast; the graph itself collapses to |nations|²
  ≤ 625 rows, so the 3 unrolled sweeps are driver-negligible
  broadcast joins. For a large graph (users, not nations) the same
  loop holds but each sweep becomes one shuffle on ``dst`` and the
  rank table must be persisted/checkpointed between sweeps to cut the
  lineage (GraphX/Pregel-style); dangling-mass redistribution is one
  extra scalar agg per sweep. This query pins the small-graph shape:
  edges stay the only big intermediate.
- ``session_paths_topk``: one window shuffle on ``user_id`` (the
  same partitioning every per-user operator reuses), then a hash
  aggregate whose key space is |event_types|³ — map-side combine
  collapses it before the exchange; the global top-10 is a
  ``TakeOrderedAndProject``, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..persist import pin

DEC = "decimal(25,6)"
N_NATIONS = 25.0  # TPC-H nation is a fixed 25-row dimension at every SF
DAMPING = 0.85
N_SWEEPS = 3


def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 synchronous sweeps, uniform init,
    no dangling-mass redistribution — every nation has out-edges in
    this graph) over the directed trade graph supplier-nation →
    customer-nation, edge weight = lineitem revenue.

    pr_{i+1}(v) = (1-d)/N + d · Σ_{u→v} pr_i(u) · w(u,v)/outw(u)
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst")
            )),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src")
            )),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("src", "dst")
        .agg(F.sum(rev).alias("w"))
    )
    outw = Window.partitionBy("src")
    # pinned: every sweep references this subtree; without it Spark
    # re-runs the fact-fact edge build (the only big shuffle) 3x.
    # <= |nations|^2 rows, so the pinned footprint is trivial.
    # A/B sf0.1 0.43→1.79 / 2.8→4.4 s, sf1 0.45→5.16 / 7.6→12.6 s
    shares = edges.select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.sum("w").over(outw).cast("double")).alias(
            "share"
        ),
    ).transform(pin)

    nodes = nation.select(F.col("n_name").alias("node"))
    pr = nodes.withColumn("pr", F.lit(1.0 / N_NATIONS))
    base = F.lit((1.0 - DAMPING) / N_NATIONS)
    for _ in range(N_SWEEPS):
        contribs = shares.join(
            F.broadcast(pr), F.col("src") == F.col("node")
        ).select("dst", "src", (F.col("pr") * F.col("share")).alias("c"))
        summed = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("sc")
        )
        pr = nodes.join(
            F.broadcast(summed), F.col("node") == F.col("dst"), "left"
        ).select(
            "node",
            (base + F.lit(DAMPING) * F.coalesce(F.col("sc"), F.lit(0.0))).alias("pr"),
        )
    return pr


def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths across all users (sequence
    mining): each user's time-ordered event stream contributes every
    consecutive (e1 → e2 → e3) trigram."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        steps.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(10)
    )


QUERIES = {
    "pagerank_nation_trade": pagerank_nation_trade,
    "session_paths_topk": session_paths_topk,
}

_PAGERANK_GRAPH = """
        edges AS (
            SELECT sn.n_name AS src, cn.n_name AS dst,
                   sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(25,6))) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2
        ),
        shares AS (
            SELECT src, dst,
                   CAST(w AS DOUBLE)
                   / CAST(sum(w) OVER (PARTITION BY src) AS DOUBLE)
                       AS share
            FROM edges
        ),
        pr0 AS (
            -- every literal CAST to DOUBLE: DuckDB would otherwise do
            -- exact DECIMAL arithmetic here (1.0/25.0 = 0.04 exactly)
            -- while Spark/Python compute IEEE doubles - different bits
            SELECT n_name AS node,
                   CAST(1.0 AS DOUBLE) / CAST(25.0 AS DOUBLE) AS pr
            FROM nation
        )
"""


def _pagerank_sweep(i: int) -> str:
    return f"""
        c{i} AS (
            SELECT s.dst, s.src, p.pr * s.share AS c
            FROM shares s JOIN pr{i} p ON p.node = s.src
        ),
        s{i} AS (
            SELECT dst,
                   list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(c ORDER BY src)),
                       (acc, x) -> acc + x) AS sc
            FROM c{i} GROUP BY dst
        ),
        pr{i + 1} AS (
            SELECT n.n_name AS node,
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                       / CAST(25.0 AS DOUBLE)
                   + CAST(0.85 AS DOUBLE)
                     * coalesce(s{i}.sc, CAST(0.0 AS DOUBLE)) AS pr
            FROM nation n LEFT JOIN s{i} ON s{i}.dst = n.n_name
        )
"""


ORACLE = {
    "pagerank_nation_trade": (
        "WITH "
        + _PAGERANK_GRAPH
        + ","
        + ",".join(_pagerank_sweep(i) for i in range(N_SWEEPS))
        + f" SELECT node, pr FROM pr{N_SWEEPS}"
    ),
    "session_paths_topk": """
        WITH steps AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT concat_ws('>', e1, e2, e3) AS path,
               count(*) AS n_paths
        FROM steps
        WHERE e3 IS NOT NULL
        GROUP BY 1
        ORDER BY n_paths DESC, path
        LIMIT 10
    """,
}
