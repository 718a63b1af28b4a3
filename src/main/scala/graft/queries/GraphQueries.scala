package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph-analytics rounds over the interaction graph derived from the
  * event log (src = acting user, dst = the entity its payload points
  * at) — the "who touches what" graph every social pipeline builds from
  * exactly this kind of log (the reference materializes the edge list
  * as nested comment threads, `DataStorage.py` comment extraction; here
  * the graph ops themselves are first-class).
  *
  * Both gates keep ALL arithmetic in integers (ppb ranks, ord-scalar
  * degree ordering) so the result is bit-identical across engines —
  * the g02/e10 determinism convention.
  */
object GraphQueries {

  /** The shared edge derivation: one directed edge per event,
    * src = user_id, dst = the numeric payload key folded into the node
    * id space. Both engines parse the payload with the same regex.
    */
  private def edgesSql: String =
    "SELECT user_id AS src, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 150 AS dst FROM events"

  private def edgesDf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(spark, dir).select(
      col("user_id").as("src"),
      (regexp_extract(col("props"), "[0-9]+", 0).cast("long") % 150).as("dst"))

  /** G03 — one PAGERANK power-iteration round (d = 0.85) in exact ppb
    * integer arithmetic: rank'(v) = ⌊0.15·10⁹/N⌋ + ⌊0.85·(Σ_{u→v}
    * ⌊rank(u)/outdeg(u)⌋ + dangling_share)⌋ from the uniform start
    * ⌊10⁹/N⌋, where dangling_share redistributes the rank of nodes with
    * NO out-edges uniformly (the textbook dangling-mass correction —
    * without it the round leaks the mass of every sink node). Integer
    * division everywhere — no float accumulation order to diverge
    * between engines; GraphSpec pins conservation: one round loses only
    * floor dust, bounded by edges + nodes. Iteration is driver-looped
    * like the Lloyd round (e10) and the BPE round (t16), each round
    * this same plan over the previous rank table.
    *
    * Scale shape: the canonical Pregel/GraphX superstep as two keyed
    * shuffles — edges ⋈ out-degrees on src (co-located when the edge
    * table is bucketed by src, the storage layout a rank loop would
    * use), then a map-side-combinable contribution sum on dst. The
    * node count, out-edge-node count, and dangling share are 1-row
    * broadcasts; the teleport side is |nodes| rows. No collect — rank
    * state lives in the cluster across rounds.
    */
  val g03PagerankRound: GraftQuery = GraftQuery(
    "g03_pagerank_round",
    s"""WITH edges AS ($edgesSql),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |outd AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |k AS (SELECT n, ((1000000000 // n) * (n - (SELECT COUNT(*) FROM outd))) // n AS dshare
       |      FROM nn),
       |contrib AS (
       |  SELECT e.dst, SUM((1000000000 // k.n) // outd.deg) AS c
       |  FROM edges e JOIN outd ON e.src = outd.src CROSS JOIN k GROUP BY e.dst)
       |SELECT nodes.node,
       |       CAST((150000000 // k.n) + (85 * (COALESCE(contrib.c, 0) + k.dshare)) // 100
       |            AS BIGINT) AS rank_ppb
       |FROM nodes CROSS JOIN k LEFT JOIN contrib ON contrib.dst = nodes.node
       |ORDER BY node""".stripMargin) { (spark, dir) =>
    // edges feed nodes, out-degrees, and contributions — persist once
    // (the t10/t17 multi-consumer lesson)
    val edges = edgesDf(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val nn = nodes.agg(count(lit(1)).as("n"))
    val outd = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val k = nn.crossJoin(outd.agg(count(lit(1)).as("n_out")))
      .select(col("n"),
        expr("((1000000000 div n) * (n - n_out)) div n").as("dshare"))
    val contrib = edges.join(outd, "src")
      .crossJoin(broadcast(k))
      .select(col("dst"), expr("(1000000000 div n) div deg").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("c"))
    nodes.crossJoin(broadcast(k))
      .join(contrib, col("node") === col("dst"), "left")
      .select(col("node"),
        (expr("150000000 div n") +
          expr("(85 * (coalesce(c, 0) + dshare)) div 100")).as("rank_ppb"))
      .orderBy("node")
  }

  /** G04 — TRIANGLE COUNTING by degree-ordered orientation (the
    * MapReduce-era standard for counting triangles without quadratic
    * wedge blowup): normalize to distinct undirected edges, orient
    * every edge from the lower-(degree, id) endpoint to the higher, so
    * each triangle is enumerated exactly once and a vertex's join
    * fan-out is bounded by its ORIENTED out-degree (≤ O(√E) on any
    * graph — the arboricity bound), never its raw degree. The total
    * order is the scalar ord = deg·10⁶ + node, identical in both
    * engines. Output: per-vertex triangle participation counts.
    *
    * Scale shape: distinct-edge dedup and the degree table are keyed
    * aggs; wedges = oriented ⋈ oriented on the shared source (shuffle
    * on node key, fan-out arboricity-bounded); the closing check is one
    * more equi-join against the oriented edge table. No node ever sees
    * more than its oriented neighborhood — the hot celebrity vertex
    * that breaks naive triangle joins sits on the HIGH side of almost
    * every ordered edge and so fans out almost nothing.
    */
  val g04TriangleCount: GraftQuery = GraftQuery(
    "g04_triangle_count",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |          SELECT u AS node FROM und UNION ALL SELECT v FROM und)
       |        GROUP BY node),
       |o AS (SELECT u, v, du.deg * 1000000 + u AS ou, dv.deg * 1000000 + v AS ov
       |      FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
       |oe AS (SELECT CASE WHEN ou < ov THEN u ELSE v END AS a,
       |              CASE WHEN ou < ov THEN v ELSE u END AS b,
       |              GREATEST(ou, ov) AS ob
       |       FROM o),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM oe e1 JOIN oe e2 ON e1.a = e2.a AND e1.ob < e2.ob
       |        JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b)
       |SELECT node, COUNT(*) AS n_tri FROM (
       |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
       |GROUP BY node ORDER BY node""".stripMargin) { (spark, dir) =>
    val und = edgesDf(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val o = und
      .join(deg.select(col("node").as("u"), (col("deg") * 1000000 + col("u")).as("ou")), "u")
      .join(deg.select(col("node").as("v"), (col("deg") * 1000000 + col("v")).as("ov")), "v")
    val oe = o.select(
      when(col("ou") < col("ov"), col("u")).otherwise(col("v")).as("a"),
      when(col("ou") < col("ov"), col("v")).otherwise(col("u")).as("b"))
    // Edge-iterator form (r13 rewrite, the g12 array-native lesson): a
    // triangle with order u < v < w is exactly one oriented edge (u, v)
    // plus one common OUT-neighbor w ∈ N⁺(u) ∩ N⁺(v) — so building the
    // oriented adjacency ONCE (arrays bounded by oriented out-degree,
    // i.e. the O(√E) arboricity bound; never a hot node's raw degree)
    // and intersecting per edge replaces the former wedge ENUMERATION
    // (Σ_a C(out_deg(a), 2) rows through an exchange — 1.7M rows at
    // sf0.1, ~32M at the 10× tier) plus its closing join. Shuffle BYTES
    // stay wedge-bound (Σ out_deg² array elements), but they travel on
    // |edges| rows instead of |wedges| rows and the closing join is gone
    // — the intersect IS the closing check.
    // r14 (gate-SF cost, VERDICT r13 #3): the (a, b) pairs ARE the
    // exploded adjacency, so the left join side derives from adj itself
    // — the former oe ⋈ adj(a) join and oe's persist are gone (oe now
    // has ONE consumer, the adj agg). Persists: 4 → 3. The counting
    // unions STAY three scans of the persisted withCommon: folding them
    // into one concat+explode pass was A/B'd at the 100× tier (OPTIMIZATION_r14.md,
    // canary 0.205) and measured 13.4 vs 8.8 s — the per-row
    // struct-array construction costs more than two extra columnar
    // cache scans save; at gate SF the two forms are within 0.15 s.
    // Tier sweep decides (the r13 g11/e16 rule).
    val adj = oe.groupBy(col("a").as("ja"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withCommon = adj
      .select(col("ja").as("a"), col("nbrs").as("na"), explode(col("nbrs")).as("b"))
      .join(adj.select(col("ja").as("j2"), col("nbrs").as("nb")), col("b") === col("j2"))
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("common"))
      .filter(size(col("common")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    withCommon.select(col("a").as("node"), size(col("common")).cast("long").as("c"))
      .union(withCommon.select(col("b").as("node"), size(col("common")).cast("long").as("c")))
      .union(withCommon.select(explode(col("common")).as("node"), lit(1L).as("c")))
      .groupBy("node").agg(sum(col("c")).as("n_tri"))
      .orderBy("node")
  }

  /** G05 — one LABEL-PROPAGATION round (community detection, the LPA
    * family): every node adopts the most frequent label among its
    * undirected neighbors (tie → smallest label; isolated semantics:
    * nodes keep their own label when they have no neighbors). Labels
    * start as node ids — one round from that start is the deterministic,
    * oracle-checkable unit, driver-looped like g03/e10/t16.
    *
    * Scale shape: edges ⋈ labels on the neighbor key (co-located when
    * edges are bucketed), then TWO nested map-side-combinable aggs —
    * (node, label) counts, then an argmax min-struct per node (count
    * desc, label asc). Never a per-node sort or a collected neighbor
    * list; the hot node aggregates, not buffers.
    */
  val g05LabelPropRound: GraftQuery = GraftQuery(
    "g05_labelprop_round",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |cnt AS (SELECT node, nbr AS label, COUNT(*) AS c
       |        FROM adj GROUP BY node, nbr),
       |best AS (SELECT node, label, c,
       |                row_number() OVER (PARTITION BY node
       |                                   ORDER BY c DESC, label) AS rn
       |         FROM cnt),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges)
       |SELECT nodes.node, COALESCE(best.label, nodes.node) AS new_label
       |FROM nodes LEFT JOIN best ON best.node = nodes.node AND best.rn = 1
       |ORDER BY nodes.node""".stripMargin) { (spark, dir) =>
    val edges = edgesDf(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
    // labels(v) = v at round 0, so the neighbor-label lookup is the
    // neighbor id itself; later rounds join adj against the label table
    // on nbr before this same two-agg reduction
    val best = adj.groupBy("node", "nbr").agg(count(lit(1)).as("c"))
      // argmax as a min-struct over (-count, label): map-side combinable,
      // no per-node window sort
      .groupBy("node")
      .agg(min(struct((-col("c")).as("negc"), col("nbr").as("label"))).as("m"))
      .select(col("node").as("b_node"), col("m.label").as("label"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    nodes.join(best, col("node") === col("b_node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("new_label"))
      .orderBy("node")
  }

  /** G06 — one K-CORE peel round (k = 30): drop every node whose
    * undirected degree is below k, emit the survivors with their degree
    * RECOMPUTED inside the surviving subgraph — the peel-round unit the
    * k-core fixpoint iterates (driver-looped like g03/g05; the round
    * count is bounded by the graph's degeneracy). Used as the
    * "influential-core" filter over interaction graphs.
    *
    * Scale shape: a degree agg, a broadcast-or-keyed semi-join of edges
    * against survivors on BOTH endpoints, and a second degree agg — all
    * map-side-combinable; no per-node adjacency materialization.
    */
  val g06KCoreRound: GraftQuery = GraftQuery(
    "g06_kcore_round",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |deg AS (SELECT node, COUNT(*) AS deg FROM (
       |          SELECT u AS node FROM und UNION ALL SELECT v FROM und)
       |        GROUP BY node),
       |keep AS (SELECT node FROM deg WHERE deg >= 30),
       |sub AS (SELECT u, v FROM und
       |        JOIN keep k1 ON und.u = k1.node
       |        JOIN keep k2 ON und.v = k2.node),
       |deg2 AS (SELECT node, COUNT(*) AS deg FROM (
       |          SELECT u AS node FROM sub UNION ALL SELECT v FROM sub)
       |         GROUP BY node)
       |SELECT node, deg AS deg_after FROM deg2 ORDER BY node""".stripMargin) {
    (spark, dir) =>
      val und = edgesDf(spark, dir)
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // r14 (the suite's worst anti-scaler, VERDICT r13 #2): the former
      // union-of-two-selects degree agg scanned its input twice, and —
      // worse — `sub` was NOT persisted, so the whole two-semi-join tree
      // executed once per union leg, and `keep` re-computed its degree
      // agg inside EACH broadcast build (plan-verified: 31 Exchange
      // mentions, the keep subtree duplicated twice and the join tree
      // twice). One explode(array(u, v)) pass replaces each union (same
      // row multiset, one scan), and keep is persisted so the second
      // broadcast build reads the 150-row cache instead of re-running
      // the degree agg.
      def degrees(e: org.apache.spark.sql.DataFrame) =
        e.select(explode(array(col("u"), col("v"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = degrees(und).filter(col("deg") >= 30).select("node")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sub = und
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "leftsemi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "leftsemi")
      degrees(sub)
        .select(col("node"), col("deg").as("deg_after"))
        .orderBy("node")
  }

  /** G07 — BFS frontier expansion (single-source shortest paths on the
    * unweighted interaction graph): the Pregel min-dist round
    * dist'(v) = min(dist(v), min_{u~v} dist(u)+1), driver-looped; the
    * gate runs TWO rounds from source 0 (so the loop machinery itself is
    * under the oracle) and emits (node, dist ≤ 2, parent), parent = the
    * smallest dist−1 neighbor — the deterministic BFS tree.
    *
    * Scale shape: per round one adjacency ⋈ frontier equi-join + a
    * min agg — both keyed on the node, map-side-combinable; rounds =
    * graph diameter. The parent pick is a conditional min agg, no
    * window. Frontier-only optimization (join just the nodes whose dist
    * changed) drops in for deep graphs; at diameter ~2 here the full
    * table is the frontier.
    */
  val g07BfsRounds: GraftQuery = GraftQuery(
    "g07_bfs_rounds",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
       |d1 AS (SELECT node, MIN(dist) AS dist FROM (
       |         SELECT node, dist FROM d0
       |         UNION ALL
       |         SELECT a.nbr, d0.dist + 1 FROM d0 JOIN adj a ON a.node = d0.node)
       |       GROUP BY node),
       |d2 AS (SELECT node, MIN(dist) AS dist FROM (
       |         SELECT node, dist FROM d1
       |         UNION ALL
       |         SELECT a.nbr, d1.dist + 1 FROM d1 JOIN adj a ON a.node = d1.node)
       |       GROUP BY node)
       |SELECT d2.node, d2.dist,
       |       COALESCE(MIN(CASE WHEN du.dist = d2.dist - 1 THEN a.node END),
       |                CAST(-1 AS BIGINT)) AS parent
       |FROM d2
       |LEFT JOIN adj a ON a.nbr = d2.node
       |LEFT JOIN d2 du ON du.node = a.node
       |GROUP BY d2.node, d2.dist ORDER BY d2.node""".stripMargin) { (spark, dir) =>
    val edges = edgesDf(spark, dir)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // r14: array-native adjacency (the g04/g12 lesson). The former
    // row-form round consumed its input frame TWICE (once per union
    // leg), so d1's whole subtree executed twice inside d2 — and the
    // exploded adjacency union re-scanned the distinct subtree per
    // direction. One explode builds both directions in one pass; the
    // round becomes d ⋈ adjacency-arrays → explode(self ∪ nbrs+1) →
    // min agg, consuming d ONCE (same multiset: each d row contributes
    // itself and one dist+1 row per neighbor; a node without
    // neighbors keeps its row via the left join's null → empty array).
    val adj = und.select(
      explode(array(struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
      .groupBy("node").agg(collect_list(col("nbr")).as("nbrs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    import org.apache.spark.sql.DataFrame
    def round(d: DataFrame): DataFrame =
      d.join(adj, Seq("node"), "left")
        .select(explode(concat(
          array(struct(col("node"), col("dist"))),
          transform(coalesce(col("nbrs"), array().cast("array<bigint>")),
            nb => struct(nb.as("node"), (col("dist") + 1).as("dist"))))).as("e"))
        .groupBy(col("e.node").as("node")).agg(min(col("e.dist")).as("dist"))
    import spark.implicits._
    val d0 = Seq((0L, 0L)).toDF("node", "dist")
    val d2 = round(round(d0)).persist(StorageLevel.MEMORY_AND_DISK)
    val du = d2.select(col("node").as("u_node"), col("dist").as("u_dist"))
    // the parent scan: adj is symmetric, so "edges INTO node" = the
    // node's own neighbor list; explode_outer keeps the no-neighbor
    // null row the former left join produced
    d2.join(adj, Seq("node"), "left")
      .select(col("node"), col("dist"), explode_outer(col("nbrs")).as("cand"))
      .join(du, col("cand") === col("u_node"), "left")
      .groupBy("node", "dist")
      .agg(coalesce(min(when(col("u_dist") === col("dist") - 1, col("cand"))),
        lit(-1L)).as("parent"))
      .orderBy("node")
  }

  /** G08 — CAPPED BIPARTITE CO-ENGAGEMENT PROJECTION: the user–user
    * similarity graph induced by shared items (`props.k`) — the
    * collaborative-filtering / community-seed structure every social
    * pipeline projects out of its engagement log. The quadratic hazard
    * is the HOT ITEM: an item touched by m users emits C(m,2) pairs, so
    * a viral item (m ≈ corpus) is an O(n²) explosion no cluster absorbs.
    * The cap is the standard fix (and what production CF systems do):
    * each item contributes only its TOP-8 most-engaged users
    * (deterministic: count desc, user asc — a d03-style ranked window),
    * bounding the self-join at C(8,2) = 28 pairs per item — linear in
    * |items| by construction. The cap biases toward heavy users,
    * documented semantics of the op (spec'd: capped ⊆ uncapped pairs).
    *
    * Scale shape: distinct (item, user) collapses map-side; the rank
    * window shuffles once on item; the pair self-join is item-local on
    * the SAME partitioning (exchange reuse, no second shuffle); the
    * final weight agg shuffles the capped pair stream. No collect, no
    * cartesian; skew is bounded by the cap, not by data.
    */
  val g08CoEngagement: GraftQuery = GraftQuery(
    "g08_co_engagement",
    """WITH eng AS (
      |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS item,
      |         user_id, COUNT(*) AS n_eng
      |  FROM events GROUP BY 1, 2),
      |capped AS (
      |  SELECT item, user_id FROM (
      |    SELECT item, user_id,
      |           row_number() OVER (PARTITION BY item
      |                              ORDER BY n_eng DESC, user_id) AS rk
      |    FROM eng) WHERE rk <= 8),
      |pairs AS (
      |  SELECT a.user_id AS u1, b.user_id AS u2
      |  FROM capped a JOIN capped b
      |    ON a.item = b.item AND a.user_id < b.user_id)
      |SELECT u1, u2, COUNT(*) AS weight
      |FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY weight DESC, u1, u2 LIMIT 100""".stripMargin) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("item").orderBy(desc("n_eng"), asc("user_id"))
    val capped = Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("user_id"))
      .groupBy("item", "user_id").agg(count(lit(1)).as("n_eng"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 8)
      .select("item", "user_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    capped.as("a")
      .join(capped.as("b"),
        col("a.item") === col("b.item") && col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= 2)
      .orderBy(desc("weight"), asc("u1"), asc("u2")).limit(100)
  }

  /** G09 — one LARGE-STAR + SMALL-STAR round (the published
    * MapReduce/Spark connected-components algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): large-star hangs
    * every STRICTLY-LARGER neighbor of u under m(u) = min(Γ(u) ∪ {u});
    * small-star then hangs u's smaller-or-equal neighborhood (and u)
    * under its local minimum. Alternating the two provably converges
    * in O(log²
    * n) rounds to star graphs rooted at component minima — the
    * O(log d)-round alternative to g02's pointer-jumping loop
    * (GraphSpec pins that the alternation's fixpoint labels equal
    * [[graft.operators.Dedup.connectedComponents]] exactly). The gate
    * runs exactly one LS∘SS round and emits the resulting canonical
    * edge set, so the round algebra both engines iterate is itself
    * under the oracle.
    *
    * Scale shape: each star step is per-node m = one map-side
    * combinable MIN agg + one edge ⋈ m keyed join + distinct — never
    * an adjacency-list buffer; the celebrity node's neighborhood
    * aggregates. Edge count never grows (each input edge maps to one
    * output edge), so rounds are shuffle-stable.
    */
  val g09CcStarRound: GraftQuery = GraftQuery(
    "g09_cc_star_round",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |m1 AS (SELECT node, LEAST(MIN(nbr), node) AS m FROM adj GROUP BY node),
       |ls AS (SELECT DISTINCT a.nbr AS child, m1.m AS parent
       |       FROM adj a JOIN m1 ON m1.node = a.node
       |       WHERE a.nbr > a.node),
       |adj2 AS (SELECT child AS node, parent AS nbr FROM ls WHERE child <> parent
       |         UNION ALL SELECT parent, child FROM ls WHERE child <> parent),
       |le AS (SELECT node, nbr FROM adj2 WHERE nbr <= node),
       |m2 AS (SELECT node, LEAST(MIN(nbr), node) AS m FROM le GROUP BY node),
       |ss AS (SELECT DISTINCT child, parent FROM (
       |         SELECT l.nbr AS child, m2.m AS parent
       |         FROM le l JOIN m2 ON m2.node = l.node
       |         UNION ALL SELECT node, m FROM m2)
       |       WHERE child <> parent)
       |SELECT child, parent FROM ss ORDER BY child, parent""".stripMargin) { (spark, dir) =>
    val edges = edgesDf(spark, dir)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // r14: each star step folds its per-node minimum AND its neighbor
    // fan-out into ONE keyed agg (min + conditional collect_list) and
    // re-emits via explode — the former form consumed every
    // intermediate twice or more without persists (adj's union legs,
    // the m ⋈ adj join, ss's two legs), so the distinct-edge subtree
    // executed up to 4× per run. Semantics unchanged: large-star hangs
    // the strictly-larger neighbors under m(u) = min(Γ(u) ∪ {u}) —
    // min(nbr) over ALL neighbors, least'd with the node — and
    // small-star hangs the ≤-neighborhood plus the node itself under
    // the local minimum; collect_list(when(...)) keeps exactly the
    // fan-out side (nulls are skipped), so explode emits the same
    // (child, parent) multiset the join produced.
    val adj = und.select(
      explode(array(struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
    val ls = adj.groupBy("node")
      .agg(least(min(col("nbr")), col("node")).as("m"),
        collect_list(when(col("nbr") > col("node"), col("nbr"))).as("bigger"))
      .select(col("m").as("parent"), explode(col("bigger")).as("child"))
      .distinct()
    val adj2 = ls.filter(col("child") =!= col("parent"))
      .select(explode(array(
        struct(col("child").as("node"), col("parent").as("nbr")),
        struct(col("parent").as("node"), col("child").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
    val le = adj2.filter(col("nbr") <= col("node"))
    val ss = le.groupBy("node")
      .agg(least(min(col("nbr")), col("node")).as("m"),
        collect_list(col("nbr")).as("nbrs"))
      .select(col("m").as("parent"),
        explode(concat(col("nbrs"), array(col("node")))).as("child"))
      .filter(col("child") =!= col("parent"))
      .distinct()
    ss.orderBy("child", "parent")
  }

  /** G10 — MODULARITY of a community assignment (the quality metric
    * the g05 label-propagation loop optimizes — what e14's recall
    * evaluation is to the ANN family, this is to the community
    * family): Q = Σ_c (e_c/m − (d_c/2m)²) over the round-1 labels,
    * kept EXACT by clearing denominators — Q·4m² = Σ_c (4·m·e_c −
    * d_c²), all BIGINT; only the final report division is a double
    * (IEEE-identical both engines). Also reports m, the community
    * count, and the intra-edge total, so a Q drift localizes.
    *
    * Scale shape: labels are g05's two map-side aggs; e_c is one join
    * of edges against the label table on BOTH endpoints (two
    * broadcast-or-keyed hash joins) + a count per label; d_c one
    * degree agg joined to labels. Everything after runs on
    * |communities| rows.
    */
  val g10Modularity: GraftQuery = GraftQuery(
    "g10_modularity",
    s"""WITH edges AS ($edgesSql),
       |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |        FROM edges WHERE src <> dst),
       |adj AS (SELECT u AS node, v AS nbr FROM und
       |        UNION ALL SELECT v, u FROM und),
       |cnt AS (SELECT node, nbr AS label, COUNT(*) AS c FROM adj GROUP BY node, nbr),
       |best AS (SELECT node, label,
       |                row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
       |         FROM cnt),
       |labels AS (SELECT node, label FROM best WHERE rn = 1),
       |m AS (SELECT COUNT(*) AS m FROM und),
       |ec AS (SELECT lu.label, COUNT(*) AS e_c
       |       FROM und JOIN labels lu ON lu.node = und.u
       |                JOIN labels lv ON lv.node = und.v
       |       WHERE lu.label = lv.label GROUP BY lu.label),
       |deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
       |dc AS (SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS d_c
       |       FROM deg JOIN labels l ON l.node = deg.node GROUP BY l.label),
       |terms AS (
       |  SELECT dc.label, COALESCE(ec.e_c, 0) AS e_c, dc.d_c,
       |         4 * m.m * COALESCE(ec.e_c, 0) - dc.d_c * dc.d_c AS t
       |  FROM dc LEFT JOIN ec ON ec.label = dc.label, m)
       |SELECT CAST(m.m AS BIGINT) AS m,
       |       CAST(COUNT(*) AS BIGINT) AS n_communities,
       |       CAST(SUM(e_c) AS BIGINT) AS intra_edges,
       |       CAST(SUM(t) AS BIGINT) AS q_num,
       |       CAST(4 * m.m * m.m AS BIGINT) AS q_den,
       |       CAST(SUM(t) AS DOUBLE) / CAST(4 * m.m * m.m AS DOUBLE) AS modularity
       |FROM terms, m GROUP BY m.m""".stripMargin) { (spark, dir) =>
    val edges = edgesDf(spark, dir)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r14 (VERDICT r13 #2): one explode pass builds the undirected
    // adjacency (the former union re-scanned und per leg), and — since
    // und is DISTINCT pairs — every (node, nbr) appears exactly once, so
    // "most frequent neighbor label, count desc / label asc" is simply
    // MIN(nbr): the g05-shaped two-level agg (per-(node, nbr) counts,
    // then an argmax struct-min — two exchanges) collapses to ONE keyed
    // agg that also folds the degree count dc needed anyway. d_c then
    // reads nodeInfo directly instead of re-aggregating adj + a join.
    // (g05 itself keeps the two-level form: its later rounds join a
    // label table where counts exceed 1 — here round-1 labels are the
    // gate's semantics.) Oracle unchanged; the SQL's window form and
    // this min() produce identical labels on distinct-pair adjacency.
    val adj = und.select(
      explode(array(struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
    val nodeInfo = adj.groupBy("node")
      .agg(min(col("nbr")).as("label"), count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val m = und.agg(count(lit(1)).as("m"))
    val ec = und
      .join(nodeInfo.select(col("node").as("u"), col("label").as("lu")), "u")
      .join(nodeInfo.select(col("node").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_c"))
    val dc = nodeInfo
      .groupBy("label").agg(sum("d").cast("bigint").as("d_c"))
    dc.join(ec, Seq("label"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .select(col("m"),
        (lit(4) * col("m") * col("e_c") - col("d_c") * col("d_c")).as("t"),
        col("e_c"), col("d_c"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_communities"),
        sum("e_c").cast("bigint").as("intra_edges"),
        sum("t").cast("bigint").as("q_num"))
      .select(col("m"), col("n_communities"), col("intra_edges"), col("q_num"),
        (lit(4) * col("m") * col("m")).cast("bigint").as("q_den"),
        (col("q_num").cast("double") / (lit(4) * col("m") * col("m")).cast("double"))
          .as("modularity"))
  }

  /** G11 — LINK-PREDICTION scores (common neighbors + neighborhood
    * Jaccard, Liben-Nowell & Kleinberg 2003): for every non-adjacent
    * pair with ≥1 shared neighbor, cn = |Γ(u) ∩ Γ(v)| and
    * jaccard_ppm = 10⁶·cn div (|Γ(u)| + |Γ(v)| − cn) — the candidate
    * generator behind "people you may know" and graph-completion
    * curation. Exact integer ppm (the a30/a35 convention), top-20 by
    * score with the full candidate count as the audit column.
    *
    * Scale shape: the wedge join is the quadratic temptation, and it
    * has TWO fan-out axes, each needing its own cap. Capping each
    * node's neighbor list (16 smallest ids) bounds degrees but NOT the
    * join: a popular shared neighbor still collects thousands of
    * capped lists and fans out C(count, 2) wedges through its key —
    * measured 3.3 s → 149 s across one 10× tier step before the second
    * cap. So the CONTRIBUTOR side is capped too: each shared neighbor
    * keeps its 16 smallest-id member nodes (g08's per-item cap, on the
    * axis where the quadratic actually lives), bounding the join at
    * C(16,2) wedges per neighbor — Σ ≤ 120·|nodes| total. Both caps
    * are part of the gated semantics; deg and jaccard are computed ON
    * the double-capped adjacency so the score family stays internally
    * consistent (neighborhood sampling, the GraphSAGE/g08 discipline).
    * The existing-edge exclusion is one LEFT ANTI join; top-20 plans
    * as TakeOrderedAndProject per-partition heaps.
    */
  val g11LinkPrediction: GraftQuery = GraftQuery(
    "g11_link_prediction", {
      val base =
        s"""WITH edges AS ($edgesSql),
           |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
           |        FROM edges WHERE src <> dst),
           |adj AS (SELECT u AS node, v AS nb FROM und
           |        UNION ALL SELECT v AS node, u AS nb FROM und),
           |cadj0 AS (SELECT node, nb FROM adj
           |          QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY nb) <= 16),
           |cadj AS (SELECT node, nb FROM cadj0
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY nb ORDER BY node) <= 16),
           |deg AS (SELECT node, COUNT(*) AS deg FROM cadj GROUP BY node),
           |cn AS (SELECT a.node AS u, b.node AS v, COUNT(*) AS cn
           |       FROM cadj a JOIN cadj b ON a.nb = b.nb AND a.node < b.node
           |       GROUP BY a.node, b.node),
           |cand AS (SELECT cn.u, cn.v, cn.cn FROM cn
           |         LEFT JOIN und ON cn.u = und.u AND cn.v = und.v
           |         WHERE und.u IS NULL)
           |SELECT c.u, c.v, CAST(c.cn AS BIGINT) AS cn,
           |       CAST(du.deg AS BIGINT) AS du, CAST(dv.deg AS BIGINT) AS dv,
           |       (1000000 * c.cn) // (du.deg + dv.deg - c.cn) AS jaccard_ppm
           |FROM cand c
           |JOIN deg du ON du.node = c.u
           |JOIN deg dv ON dv.node = c.v""".stripMargin
      Dsl.sqlTopNWithTotal(base, "u, v, cn, du, dv, jaccard_ppm",
        "jaccard_ppm DESC, u, v", 20)
    }) { (spark, dir) =>
    val und = edgesDf(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .union(und.select(col("v").as("node"), col("u").as("nb")))
    val wNode = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("nb")
    val wNb = org.apache.spark.sql.expressions.Window
      .partitionBy("nb").orderBy("node")
    val cadj = adj
      .withColumn("__rn", row_number().over(wNode))
      .filter(col("__rn") <= 16).drop("__rn")
      .withColumn("__rc", row_number().over(wNb))
      .filter(col("__rc") <= 16).drop("__rc")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = cadj.groupBy("node").agg(count(lit(1)).as("deg"))
    val cn = cadj.select(col("node").as("u"), col("nb"))
      .join(cadj.select(col("node").as("v"), col("nb")), "nb")
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
    val cand = cn.join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        expr("(1000000 * cn) div (du + dv - cn)").as("jaccard_ppm"))
    Dsl.topNWithTotal(cand, 20, desc("jaccard_ppm"), asc("u"), asc("v"))
  }

  /** G12 — GNN MEAN-AGGREGATION round (GraphSAGE, Hamilton et al.
    * 2017): one message-passing step h'(v) = mean_{u ∈ sample(Γ(v))}
    * feat(u) over node FEATURE VECTORS — the graph family's third
    * propagated payload (g03 moves scalar rank, g05 labels, g12
    * feature vectors), and the per-round data-plane of every
    * distributed GNN trainer. Neighborhoods are SAMPLED to the 16
    * smallest-id neighbors (GraphSAGE's own fixed-size neighbor
    * sampling, = g11's cap), node features come from the embeddings
    * table (vec_id = node mod |embeddings| — the deterministic feature
    * attachment), and all arithmetic is fixed-point: features quantize
    * to ⌊f·10⁶⌋ BIGINT, the mean is an exact integer division by the
    * sampled degree, and the 64-dim result is pinned per node by a
    * BIT_XOR fingerprint over (dim, value) — engine-identical, no
    * float-order leak.
    *
    * Scale shape: the relational message-passing form — capped
    * adjacency ⋈ features is a keyed equi-join (the feature table is
    * corpus-sized; it is NEVER broadcast), the per-(node, dim) sum is
    * one map-side-combinable agg over the ≤ |edges-capped|×dims
    * exploded message rows (a hot node's messages pre-aggregate per
    * partition — the g05 discipline, per dimension), and everything
    * after runs on |nodes|×dims rows. The cap bounds per-node fan-in
    * exactly as GraphSAGE prescribes; rounds driver-loop like
    * g03/g07/e10.
    */
  val g12GnnMeanAggRound: GraftQuery = GraftQuery(
    "g12_gnn_mean_agg_round", {
      val base =
        s"""WITH edges AS ($edgesSql),
           |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
           |        FROM edges WHERE src <> dst),
           |adj AS (SELECT u AS node, v AS nb FROM und
           |        UNION ALL SELECT v AS node, u AS nb FROM und),
           |cadj AS (SELECT node, nb FROM adj
           |         QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY nb) <= 16),
           |cnt AS (SELECT COUNT(*) AS c FROM embeddings),
           |nf AS (SELECT a.node, e.embedding
           |       FROM cadj a CROSS JOIN cnt
           |       JOIN embeddings e ON e.vec_id = a.nb % cnt.c),
           |deg AS (SELECT node, COUNT(*) AS deg FROM nf GROUP BY node),
           |d0 AS (SELECT node, embedding,
           |              unnest(range(1, len(embedding) + 1)) AS i FROM nf),
           |dims AS (SELECT node, i - 1 AS dim,
           |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
           |  FROM d0),
           |agg AS (SELECT d.node, d.dim,
           |               CAST(SUM(d.q) AS BIGINT) // MAX(g.deg) AS mean_q,
           |               MAX(g.deg) AS deg
           |        FROM dims d JOIN deg g ON g.node = d.node
           |        GROUP BY d.node, d.dim)
           |SELECT node, CAST(MAX(deg) AS BIGINT) AS deg,
           |       MAX(CASE WHEN dim = 0 THEN mean_q END) AS mean_d0,
           |       BIT_XOR(mean_q * 4099 + dim) AS feat_fp
           |FROM agg GROUP BY node""".stripMargin
      s"""WITH res AS ($base)
         |SELECT node, deg, mean_d0, feat_fp FROM res ORDER BY node""".stripMargin
    }) { (spark, dir) =>
    val und = edgesDf(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .union(und.select(col("v").as("node"), col("u").as("nb")))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("nb")
    val cadj = adj
      .withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= 16).drop("__rn")
    val emb = Tables.embeddings(spark, dir)
    val cnt = emb.agg(count(lit(1)).as("c"))
    // Messages stay ARRAYS end to end: the r11 form exploded every
    // message to (node, dim) rows — |capped-edges|×dims rows (153M at
    // the 100× tier) into a 9.6M-KEY aggregate whose map-side hash map
    // fell back to sort+spill, then joined deg back in. Measured at the
    // 100× tier: partitioning was NOT the lever (20.3 s at 100 parts,
    // 23.5 at 256, 24.2 at 512 — the r11 14.1× step was the agg's key
    // cardinality, not a partition floor). This form aggregates the
    // 2.4M message arrays per NODE (150k keys, deg folded into the same
    // agg — the join disappears), then sums dims in ONE codegen'd HOF
    // pass per node; the only exploded frame is |nodes|×dims going into
    // a map-side-combinable 150k-key fingerprint agg. Per-group state
    // is bounded by the cap: ≤ 16 arrays × dims.
    val agg = cadj.crossJoin(broadcast(cnt))
      .select(col("node"), pmod(col("nb"), col("c")).as("vec_id"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("node"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("qa"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"), collect_list(col("qa")).as("msgs"))
      .select(col("node"), col("deg"),
        transform(sequence(lit(1), size(element_at(col("msgs"), 1))), i =>
          aggregate(col("msgs"), lit(0L),
            (acc, a) => acc + element_at(a, i))).as("sums"))
    agg.select(col("node"), col("deg"),
        posexplode(col("sums")).as(Seq("dim", "s")))
      .select(col("node"), col("deg"), col("dim").cast("long").as("dim"),
        expr("s div deg").as("mean_q"))
      .groupBy("node")
      .agg(max(col("deg")).as("deg"),
        max(when(col("dim") === 0, col("mean_q"))).as("mean_d0"),
        expr("bit_xor(mean_q * 4099 + dim)").as("feat_fp"))
      .orderBy("node")
  }

  /** G13 — DETERMINISTIC RANDOM WALKS (DeepWalk/node2vec corpus
    * generation, GraphSAGE's neighbor expansion): from every sampled
    * start node, a T=3-step walk over the capped adjacency where the
    * step-t transition out of node u is the neighbor minimizing
    * rollingHash(start#t#nb) — the d15/d18 salted-hash discipline
    * applied to TRANSITION sampling, so the "random" walk is a pure
    * function of (start, step, neighbor): rerun/engine/cluster-stable,
    * no RNG state to checkpoint, and two engines produce bit-identical
    * corpora. Output per walk: endpoint + a path fingerprint folding
    * every visited node with its step index.
    *
    * Scale shape: the walk frame stays ONE ROW PER WALK for the whole
    * traversal — each step is a keyed equi-join against the (capped,
    * reused) adjacency followed by a map-side-combinable
    * min(struct(hash, nb)) per walk; fan-out is bounded by the cap (≤16
    * candidate rows per walk per step) and collapses before any
    * shuffle. T steps = T joins; at 100 TB this is the walk-table
    * pattern every distributed DeepWalk implementation uses, with the
    * adjacency co-partitioned once and reused across steps.
    */
  val g13RandomWalks: GraftQuery = GraftQuery(
    "g13_random_walks", {
      def hE(t: Int) = graft.functions.TextFunctions.sqlRollingHash(
        s"CAST(start AS VARCHAR) || '#$t#' || CAST(nb AS VARCHAR)")
      s"""WITH edges AS ($edgesSql),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM edges WHERE src <> dst),
         |adj AS (SELECT u AS node, v AS nb FROM und
         |        UNION ALL SELECT v AS node, u AS nb FROM und),
         |cadj AS (SELECT node, nb FROM adj
         |         QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY nb) <= 16),
         |starts AS (SELECT DISTINCT node AS start FROM cadj WHERE node % 20 = 0),
         |s1 AS (SELECT start, nb AS c1 FROM (
         |         SELECT s.start, c.nb,
         |                ROW_NUMBER() OVER (PARTITION BY s.start
         |                  ORDER BY (${hE(1)}), c.nb) AS rn
         |         FROM starts s JOIN cadj c ON c.node = s.start) WHERE rn = 1),
         |s2 AS (SELECT start, c1, nb AS c2 FROM (
         |         SELECT w.start, w.c1, c.nb,
         |                ROW_NUMBER() OVER (PARTITION BY w.start
         |                  ORDER BY (${hE(2)}), c.nb) AS rn
         |         FROM s1 w JOIN cadj c ON c.node = w.c1) WHERE rn = 1),
         |s3 AS (SELECT start, c1, c2, nb AS c3 FROM (
         |         SELECT w.start, w.c1, w.c2, c.nb,
         |                ROW_NUMBER() OVER (PARTITION BY w.start
         |                  ORDER BY (${hE(3)}), c.nb) AS rn
         |         FROM s2 w JOIN cadj c ON c.node = w.c2) WHERE rn = 1)
         |SELECT start, c3 AS end_node,
         |       CAST(xor(xor(c1 * 4099 + 1, c2 * 4099 + 2), c3 * 4099 + 3)
         |            AS BIGINT) AS path_fp
         |FROM s3 ORDER BY start""".stripMargin
    }) { (spark, dir) =>
    val und = edgesDf(spark, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("node"), col("v").as("nb"))
      .union(und.select(col("v").as("node"), col("u").as("nb")))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("nb")
    val cadj = adj
      .withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= 16).drop("__rn")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var walk = cadj.select(col("node").as("start")).distinct()
      .filter(col("start") % 20 === 0)
      .select(col("start"), col("start").as("cur"), lit(0L).as("fp"))
    for (t <- 1 to 3) {
      val h = graft.functions.TextFunctions.rollingHash(
        concat(col("start").cast("string"), lit(s"#$t#"),
          col("nb").cast("string")))
      walk = walk.join(cadj, col("cur") === col("node"))
        .select(col("start"), col("fp"), h.as("h"), col("nb"))
        .groupBy("start", "fp")
        .agg(min(struct(col("h"), col("nb"))).as("b"))
        .select(col("start"),
          col("fp").bitwiseXOR(col("b.nb") * 4099 + t).as("fp"),
          col("b.nb").as("cur"))
    }
    walk.select(col("start"), col("cur").as("end_node"),
        col("fp").as("path_fp"))
      .orderBy("start")
  }

  /** G14 — one HITS round (Kleinberg's hubs-and-authorities) from the
    * uniform hub=1 start, exact integers: auth(v) = Σ_{u→v} hub(u)
    * (= weighted in-degree on the raw edge stream — multi-edges count,
    * deterministically in both engines), then hub'(u) = Σ_{u→v}
    * auth(v). The directional complement of g03's PageRank (endorsement
    * mass vs curation mass — a crawl frontier ranks SEED HUBS by
    * exactly this score); normalization is deferred (HITS normalizes
    * per round only for convergence, which a single gated round
    * doesn't need — keeping the round integer-exact instead).
    *
    * Scale shape: two keyed shuffles (the Pregel superstep profile,
    * g03's): one in-degree agg, one auth-join + src agg; per-round
    * state is one long per node.
    */
  val g14HitsRound: GraftQuery = GraftQuery(
    "g14_hits_round",
    s"""WITH edges AS ($edgesSql),
       |nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst FROM edges),
       |auth AS (SELECT dst AS node, COUNT(*) AS a FROM edges GROUP BY 1),
       |hub AS (SELECT e.src AS node, CAST(SUM(auth.a) AS BIGINT) AS h
       |        FROM edges e JOIN auth ON auth.node = e.dst GROUP BY 1)
       |SELECT n.node, CAST(COALESCE(a, 0) AS BIGINT) AS auth,
       |       CAST(COALESCE(h, 0) AS BIGINT) AS hub
       |FROM nodes n LEFT JOIN auth USING (node) LEFT JOIN hub USING (node)
       |ORDER BY node""".stripMargin) { (spark, dir) =>
    val edges = edgesDf(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val auth = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("a"))
    val hub = edges.join(auth, edges("dst") === auth("node"))
      .groupBy(edges("src").as("node")).agg(sum(col("a")).as("h"))
    nodes.join(auth.withColumnRenamed("node", "an"),
        col("node") === col("an"), "left")
      .join(hub.withColumnRenamed("node", "hn"),
        col("node") === col("hn"), "left")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .orderBy("node")
  }

  /** G15 — INCREMENTAL CONNECTED COMPONENTS
    * ([[graft.operators.IncrementalComponents]]): the dup-group store
    * maintained across THREE edge batches (event_id % 3 — the sm
    * convention) with a mid-stream compaction, then read back — gated
    * against the recursive-closure oracle over the UNION of all edges,
    * so "incrementally-maintained labels ≡ labels recomputed from
    * scratch" (the x08 rebuild-equality invariant, for clusters). This
    * is the missing third leg of the incremental dedup lifecycle: x04
    * admits exact keys, x08 admits near-dup pairs, g15 keeps the
    * CLUSTER LABELS those pairs imply current — at 100 TB nobody
    * re-runs g02 over the full edge history per ingest tick.
    *
    * Scale shape: per batch, one resolved-store scan + a driver
    * union-find over the batch's LABEL graph (≤ 2|batch| entries,
    * never corpus nodes) + appends ∝ |batch ∪ relabeled members|;
    * compaction folds the append layers behind the StreamSketch
    * pending/marker protocol.
    */
  val g15IncrementalComponents: GraftQuery = GraftQuery(
    "g15_incremental_components",
    ccClosureOracle) { (spark, dir) =>
    import graft.operators.IncrementalComponents
    val store = Dsl.tempStore("g15_cc")
    val ev = Tables.events(spark, dir)
    (0 to 2).foreach { i =>
      val batch = ev.filter(col("event_id") % 3 === i && col("user_id") % 10 =!= 9)
        .select(col("user_id").as("a"), (col("user_id") + 1).as("b"))
      IncrementalComponents.admitEdges(spark, store, batch, i.toLong)
      // retention runs MID-STREAM (after batch 1), so the oracle
      // equality gates admission ∘ compaction, not just admission
      if (i == 1) IncrementalComponents.compact(spark, store)
    }
    IncrementalComponents.resolved(spark, store)
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("component")
  }

  /** The recursive-closure oracle both label-store gates share: chain
    * edges (user_id → user_id+1 within each decade) give ~150
    * path-components whose segments arrive scattered across batches,
    * so later batches BRIDGE earlier partial components — the
    * merge/relabel path is genuinely exercised (the raw social graph
    * is one giant component at gate scale: every admission would be a
    * no-op relabel). g15 batches by `event_id % 3`; sm12 delivers the
    * SAME thirds through a real stream — the edge UNION is identical,
    * so one closure gates both.
    */
  // lazy: g15 references it above the definition point (the
  // SimilarityQueries ivfPqCtes init-order convention)
  private lazy val ccClosureOracle: String =
    s"""WITH RECURSIVE raw AS (
       |  SELECT user_id AS src, user_id + 1 AS dst FROM events
       |  WHERE user_id % 10 != 9),
       |cand AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |         FROM raw WHERE src != dst),
       |edges AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
       |verts AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM verts
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
       |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       |SELECT component, COUNT(*) AS n_members
       |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** SM12 — the g15 label store fed by a REAL STREAM: the sixth
    * streaming-store gate (sm08 near-dup index, sm09 sketch, sm10
    * mixture, sm11 DLQ, x04's sm07 upsert — and now cluster labels).
    * Each micro-batch of edges is admitted inside `foreachBatch`
    * through [[graft.operators.IncrementalComponents.admitEdges]] —
    * foreachBatch's monotonic batch ids ARE the store's version ids,
    * its redelivery semantics are absorbed by the `_admitted` ledger
    * (a redelivered batch no-ops; the fold watermark keeps the ledger
    * bounded), and compaction runs MID-STREAM after batch 1 (the sm09
    * discipline), so the oracle equality gates stream-delivery ∘
    * admission ∘ compaction together. MemoryStream is gate-fixture-only
    * (deterministic batch boundaries); production ingest is a
    * file/queue readStream — admitEdges collects only the
    * driver-bounded batch (micro-batch contract, `require`d).
    */
  val sm12StreamComponents: GraftQuery = GraftQuery(
    "sm12_stream_components", ccClosureOracle) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.IncrementalComponents
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = Dsl.tempStore("sm12_cc")
    val ev = Tables.events(spark, dir)
    val thirds = (0 to 2).map { i =>
      ev.filter(col("event_id") % 3 === i && col("user_id") % 10 =!= 9)
        .select(col("user_id").as("a"), (col("user_id") + 1).as("b"))
        .as[(Long, Long)].collect().toSeq
    }
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("a", "b").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        IncrementalComponents.admitEdges(b.sparkSession, store, b, id)
        if (id == 1L) IncrementalComponents.compact(b.sparkSession, store)
      }
      .start()
    try thirds.foreach { t => mem.addData(t); q.processAllAvailable() }
    finally q.stop()
    IncrementalComponents.resolved(spark, store)
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("component")
  }

  val all: Seq[GraftQuery] = Seq(g03PagerankRound, g04TriangleCount,
    g05LabelPropRound, g06KCoreRound, g07BfsRounds, g08CoEngagement,
    g09CcStarRound, g10Modularity, g11LinkPrediction, g12GnnMeanAggRound,
    g13RandomWalks, g14HitsRound, g15IncrementalComponents,
    sm12StreamComponents)
}
