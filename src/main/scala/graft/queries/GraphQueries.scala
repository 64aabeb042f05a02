package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over the part↔supplier bipartite graph. */
object GraphQueries {

  private val Iters = 6

  /** Deterministic integer PageRank, `Iters` fixed iterations. The oracle
    * unrolls the same iterations as chained CTEs (recursive CTEs cannot
    * aggregate per step) with identical integer arithmetic, so the ranks
    * hash-match exactly.
    */
  val q76PageRank: Q = {
    val S = graft.ops.PageRank.Scale
    val head =
      s"""WITH edges AS (
         |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
         |  UNION
         |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem
         |), deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT src AS v FROM edges),
         |consts AS (SELECT CAST($S AS BIGINT) // count(*) AS init,
         |                  (CAST($S AS BIGINT) * 3 // 20) // count(*) AS b FROM nodes),
         |pr0 AS (SELECT v, init AS r FROM nodes CROSS JOIN consts)""".stripMargin
    val steps = (1 to Iters).map { i =>
      s"""pr$i AS (
         |  SELECT ed.dst AS v, consts.b + (17 * sum(p.r // ed.d)) // 20 AS r
         |  FROM ed JOIN pr${i - 1} p ON p.v = ed.src CROSS JOIN consts
         |  GROUP BY ed.dst, consts.b)""".stripMargin
    }
    val sql =
      (head +: steps).mkString(",\n") +
        s"\nSELECT v AS node_id, CAST(r AS BIGINT) AS rank_scaled FROM pr$Iters ORDER BY node_id"

    Q("q76_pagerank", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
      graft.ops.PageRank.run(fwd.unionByName(rev), "src", "dst", Iters)
        .orderBy("node_id")
    }
  }

  /** Deterministic synchronous label propagation, 4 fixed rounds over the
    * part↔supplier bipartite graph: most-frequent neighbor label, ties to
    * the smallest. The oracle unrolls the rounds as chained CTEs with a
    * (cnt DESC, label ASC) row_number argmax — exactly the contract the
    * engine's max(struct(cnt, -label)) aggregate implements.
    */
  val q153LabelProp: Q = {
    val rounds = 4
    val head =
      """WITH dir AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM dir UNION ALL SELECT dst, src FROM dir
        |  ) WHERE src != dst
        |), lp0 AS (SELECT DISTINCT src AS v, src AS label FROM edges)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""lp$i AS (
         |  SELECT v, label FROM (
         |    SELECT dst AS v, label,
         |      row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (SELECT e.dst, p.label, count(*) AS cnt
         |          FROM edges e JOIN lp${i - 1} p ON p.v = e.src
         |          GROUP BY e.dst, p.label)
         |  ) WHERE rn = 1)""".stripMargin
    }
    val sql =
      (head +: steps).mkString(",\n") +
        s"""
           |SELECT l.v AS node_id, l.label AS community, s.sz AS community_size
           |FROM lp$rounds l
           |JOIN (SELECT label, count(*) AS sz FROM lp$rounds GROUP BY label) s
           |  USING (label)
           |ORDER BY node_id""".stripMargin

    Q("q153_label_prop", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val edges = li.select(
        (col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val lab = graft.ops.LabelProp.run(edges, "src", "dst", rounds)
      val sizes = lab.groupBy("community").agg(count(lit(1)).as("community_size"))
      lab.join(sizes, "community")
        .select("node_id", "community", "community_size")
        .orderBy("node_id")
    }
  }

  /** Per-node triangle counts on the part co-occurrence graph (parts
    * sharing an order), via degree-ordered orientation — every step an
    * equi-join, out-degree capped at O(√m) so no hub blow-up at scale. The
    * oracle replays orientation, wedge enumeration, and closure with
    * row-value tuple comparisons.
    */
  val q154Triangles: Q = Q(
    "q154_triangles",
    """WITH dir AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
      |  WHERE l1.l_partkey < l2.l_partkey
      |), und AS (
      |  SELECT src, dst FROM dir UNION SELECT dst, src FROM dir
      |), deg AS (SELECT src AS v, count(*) AS d FROM und GROUP BY src),
      |ori AS (
      |  SELECT u.src AS u, u.dst AS w, dw.d AS dw_d
      |  FROM und u JOIN deg ds ON ds.v = u.src JOIN deg dw ON dw.v = u.dst
      |  WHERE (ds.d, u.src) < (dw.d, u.dst)
      |), wedges AS (
      |  SELECT a.u, a.w AS v, b.w
      |  FROM ori a JOIN ori b ON a.u = b.u
      |  WHERE (a.dw_d, a.w) < (b.dw_d, b.w)
      |), tri AS (
      |  SELECT w1.u, w1.v, w1.w
      |  FROM wedges w1 JOIN ori o ON o.u = w1.v AND o.w = w1.w
      |), credits AS (
      |  SELECT u AS node_id FROM tri
      |  UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w FROM tri
      |)
      |SELECT d.v AS node_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles
      |FROM deg d LEFT JOIN
      |  (SELECT node_id, count(*) AS n FROM credits GROUP BY node_id) c
      |  ON c.node_id = d.v
      |ORDER BY node_id""".stripMargin) { (s, dir) =>
    // grouped pair build, not the self-join: one shuffle + per-row array
    // pairs (order lines bound k) — see Cooccur.coedges, PLANS.md "coedges
    // near-cap probe" and CooccurSkewSpec.
    // packIds: partkeys are dense positive ints well under 2^31 at every
    // TPC-H scale this dataset ships (the in-plan guard refuses loudly if
    // that ever changes), so the quadratic pair build + distinct runs on
    // packed 8-byte longs (round-18, guide §2.3)
    val edges = graft.ops.Cooccur.coedges(
      Tables.lineitem(s, dir), "l_orderkey", "l_partkey", packIds = true)
    graft.ops.Triangles.perNode(edges, "src", "dst", canonical = true)
      .orderBy("node_id")
  }

  /** k-core peeling (8 fixed rounds, k=20) on the part co-occurrence graph
    * of a ¼ order slice: surviving nodes and their in-core degree. Peeling
    * is still cascading at round 8 (the contract is R rounds, not
    * convergence — the oracle replays exactly 8), so every round does real
    * work. The oracle unrolls each round as a chained CTE (degree filter +
    * two key joins) — exactly the engine's per-round semi-join contract.
    */
  val q158KCore: Q = {
    val (k, rounds) = (20, 8)
    // MATERIALIZED: each round references its predecessor three times, so
    // an inlining planner would otherwise expand the chain 3^rounds-fold
    // (same lesson as the BPE oracle)
    val head =
      """WITH dir AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey AND l1.l_orderkey % 4 = 0
        |), e0 AS MATERIALIZED (
        |  SELECT src, dst FROM dir UNION SELECT dst, src FROM dir
        |)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN (SELECT src AS v FROM e${i - 1} GROUP BY src
         |        HAVING count(*) >= $k) ka ON ka.v = e.src
         |  JOIN (SELECT src AS v FROM e${i - 1} GROUP BY src
         |        HAVING count(*) >= $k) kb ON kb.v = e.dst)""".stripMargin
    }
    val sql = (head +: steps).mkString(",\n") +
      s"\nSELECT src AS node_id, count(*) AS core_deg FROM e$rounds GROUP BY src ORDER BY node_id"
    Q("q158_kcore", sql) { (s, dir) =>
      // packIds: same partkey-domain argument as q154 (guard in-plan)
      val edges = graft.ops.Cooccur.coedges(
        Tables.lineitem(s, dir).where(col("l_orderkey") % 4 === 0),
        "l_orderkey", "l_partkey", packIds = true)
      graft.ops.KCore.run(edges, "src", "dst", k, rounds).orderBy("node_id")
    }
  }

  /** Deterministic uniform random walks (DeepWalk corpus prep): one
    * 6-step walk from every node of the part↔supplier graph, step t of
    * walk w moving to `neighbors[hash60(w:t) mod deg]` — a pure function
    * of the graph, so the skip-gram training corpus is identical on any
    * cluster. The oracle replays every step against the same md5 hash and
    * neighbor-index table.
    */
  val q163RandomWalks: Q = {
    val steps = 6
    def duckHash(seed: String, e: String): String =
      s"CAST(('0x' || substring(md5('$seed' || ':' || $e), 1, 15)) AS BIGINT)"
    val head =
      """WITH dir AS MATERIALIZED (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM dir UNION ALL SELECT dst, src FROM dir)
        |), adj AS MATERIALIZED (
        |  SELECT src AS v, dst AS nbr,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
        |  FROM edges
        |), deg AS MATERIALIZED (SELECT v, count(*) AS d FROM adj GROUP BY v),
        |w0 AS (SELECT v AS walk_id, v AS cur FROM deg)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walk_id, a.nbr AS cur FROM w${t - 1} w
         |  JOIN deg dd ON dd.v = w.cur
         |  JOIN adj a ON a.v = w.cur
         |    AND a.idx = ${duckHash("rw", s"CAST(w.walk_id AS VARCHAR) || ':' || '$t'")} % dd.d)""".stripMargin
    }
    val unions = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS INT) AS step, cur AS node FROM w$t")
    val sql = (head +: stepCtes).mkString(",\n") + "\n" +
      unions.mkString("\nUNION ALL ") + "\nORDER BY walk_id, step"
    Q("q163_random_walks", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val edges = li.select(
        (col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      graft.ops.RandomWalk.walks(edges, "src", "dst", steps)
        .orderBy("walk_id", "step")
    }
  }

  /** HITS hubs/authorities (Kleinberg JACM'99) on the DIRECTED part→supp
    * graph: 3 full rounds of the scaled-int fixed point (per-half-step
    * integer max-rescale replaces the non-portable L2 norm — see
    * [[graft.ops.Hits]]). The oracle unrolls the same rounds as chained
    * CTEs with identical integer arithmetic, so hubs AND authorities
    * hash-match exactly.
    */
  val q184Hits: Q = {
    val S = graft.ops.Hits.Scale
    val rounds = 3
    val head =
      s"""WITH edges AS (
         |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem
         |), nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT v, CAST($S AS BIGINT) AS h FROM nodes)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst AS v, CAST(SUM(h.h) AS BIGINT) AS x
         |  FROM edges e JOIN h${i - 1} h ON h.v = e.src GROUP BY e.dst),
         |ad$i AS (SELECT greatest(1, (max(x) + $S - 1) // $S) AS d FROM ar$i),
         |a$i AS (
         |  SELECT n.v, CAST(coalesce(ar$i.x, 0) // ad$i.d AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ar$i ON ar$i.v = n.v CROSS JOIN ad$i),
         |hr$i AS (
         |  SELECT e.src AS v, CAST(SUM(a.a) AS BIGINT) AS x
         |  FROM edges e JOIN a$i a ON a.v = e.dst GROUP BY e.src),
         |hd$i AS (SELECT greatest(1, (max(x) + $S - 1) // $S) AS d FROM hr$i),
         |h$i AS (
         |  SELECT n.v, CAST(coalesce(hr$i.x, 0) // hd$i.d AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN hr$i ON hr$i.v = n.v CROSS JOIN hd$i)""".stripMargin
    }
    val sql = (head +: steps).mkString(",\n") +
      s"""\nSELECT h$rounds.v AS node_id, h$rounds.h AS hub_scaled,
         |  a$rounds.a AS auth_scaled
         |FROM h$rounds JOIN a$rounds ON a$rounds.v = h$rounds.v
         |ORDER BY node_id""".stripMargin
    Q("q184_hits", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      graft.ops.Hits.run(
        li.select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")),
        "src", "dst", rounds)
        .orderBy("node_id")
    }
  }

  /** Multi-source BFS distances (q193): min hops from the low-key supplier
    * seed set over the symmetrized part↔supp graph, 4 rounds. The oracle
    * unrolls level-synchronous expansion as chained CTEs and takes the
    * per-node min — semantically identical to the engine's frontier-delta
    * iteration (a node's min distance is the first round that reaches it).
    */
  val q193Bfs: Q = {
    val hops = 4
    val head =
      """WITH dirE AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
        |), edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM dirE UNION ALL SELECT dst, src FROM dirE
        |  ) WHERE src != dst
        |), f0 AS (
        |  SELECT DISTINCT l_suppkey * 2 + 1 AS v, 0 AS d FROM lineitem
        |  WHERE l_suppkey <= 5
        |)""".stripMargin
    val steps = (1 to hops).map { i =>
      s"""n$i AS (
         |  SELECT e.dst AS v, $i AS d FROM edges e
         |  JOIN f${i - 1} f ON f.v = e.src
         |), f$i AS (
         |  SELECT v, min(d) AS d FROM
         |    (SELECT v, d FROM f${i - 1} UNION ALL SELECT v, d FROM n$i)
         |  GROUP BY v)""".stripMargin
    }
    val sql = (head +: steps).mkString(",\n") +
      s"\nSELECT v AS node_id, CAST(d AS BIGINT) AS dist FROM f$hops ORDER BY node_id"
    Q("q193_bfs_distances", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sources = li.filter(col("l_suppkey") <= 5)
        .select((col("l_suppkey") * 2 + 1).as("v")).distinct()
      graft.ops.Bfs.distances(
        li.select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")),
        "src", "dst", sources, hops)
        .orderBy("node_id")
    }
  }

  /** Personalized PageRank from a seed set (every 50th part node): the
    * teleport mass lands only on seeds, so rank = proximity to the
    * trusted set — the seed-expansion signal behind "find documents close
    * to known-good ones". Same integer contract as q76 with a per-NODE
    * base column; the oracle unrolls 3 rounds with nodes LEFT JOIN the
    * contrib aggregate (zero-rank nodes must survive every round — q76's
    * GROUP-BY-dst form would silently drop them).
    */
  val q221PersonalizedPagerank: Q = {
    val S = graft.ops.PageRank.Scale
    val iters = 3
    val head =
      s"""WITH edges AS (
         |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
         |  UNION
         |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem
         |), deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg USING (src)),
         |nodes AS (SELECT DISTINCT src AS v FROM edges),
         |seeds AS (SELECT v FROM nodes WHERE v % 100 = 0),
         |consts AS (SELECT CAST($S AS BIGINT) // count(*) AS init,
         |                  (CAST($S AS BIGINT) * 3 // 20) // count(*) AS b
         |           FROM seeds),
         |pr0 AS (
         |  SELECT n.v, CASE WHEN s.v IS NOT NULL THEN consts.init
         |              ELSE CAST(0 AS BIGINT) END AS r
         |  FROM nodes n LEFT JOIN seeds s ON s.v = n.v CROSS JOIN consts)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.v,
         |    (CASE WHEN s.v IS NOT NULL THEN consts.b ELSE CAST(0 AS BIGINT) END)
         |      + (17 * coalesce(c.s, 0)) // 20 AS r
         |  FROM nodes n LEFT JOIN seeds s ON s.v = n.v
         |  LEFT JOIN (
         |    SELECT ed.dst AS v, sum(p.r // ed.d) AS s
         |    FROM ed JOIN pr${i - 1} p ON p.v = ed.src GROUP BY ed.dst) c
         |    ON c.v = n.v
         |  CROSS JOIN consts)""".stripMargin
    }
    val sql = (head +: steps).mkString(",\n") +
      s"\nSELECT v AS node_id, CAST(r AS BIGINT) AS rank_scaled FROM pr$iters ORDER BY node_id"
    Q("q221_personalized_pagerank", sql) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))
      val edges = fwd.unionByName(rev)
      val seeds = edges.select(col("src").as("v")).distinct()
        .where(col("v") % 100 === 0)
      graft.ops.PageRank.personalized(edges, "src", "dst", seeds, iters)
        .orderBy("node_id")
    }
  }

  val all: Seq[Q] = Seq(q76PageRank, q153LabelProp, q154Triangles, q158KCore,
    q163RandomWalks, q184Hits, q193Bfs, q221PersonalizedPagerank)
}
