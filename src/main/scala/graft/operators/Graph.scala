package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, Tables}

/** Iterative graph analytics over the co-purchase item graph — the
  * family the inventory lacked: fixed-point linear algebra (PageRank)
  * and motif counting (triangles) as first-class oracle queries.
  *
  * The graph: parts are nodes; an undirected edge connects two parts
  * that appear in the same order (q63's pair enumeration, unweighted).
  * Pair explosion is quadratic in LINES PER ORDER, not in orders
  * (TPC-H baskets hold ≤7 distinct parts — Σ C(nᵢ,2) ≤ 21·|orders|),
  * so the edge set is linear in the fact table.
  *
  * Determinism contract (the t17/t19 discipline): every rank is an
  * integer micro-unit long; division is integer DIV on nonnegative
  * values and sums are exact BIGINT sums, so Spark and DuckDB produce
  * bit-identical ranks at every iteration — the oracle replicates the
  * full 4-iteration recurrence as chained CTEs, not a tolerance check.
  *
  * Reference analogue: the reference walks its stored index to find
  * related content one query at a time; the corpus-wide "what is
  * central / what co-occurs" rollups are the batch twins a storefront
  * or corpus-curation pipeline computes offline.
  */
object Graph {

  /** Report size for g1/g2. */
  val TopK = 20

  /** PageRank damping in percent (0.85), teleport mass in micro-units. */
  val DampPct   = 85L
  val Teleport  = 150000L // (1 - 0.85) * 1e6
  val InitRank  = 1000000L
  val Iterations = 4

  /** Undirected distinct co-purchase pairs (p1 < p2) from lineitem. */
  private[operators] def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey").distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
      .select("p1", "p2").distinct()
  }

  /** Symmetrize an undirected (p1, p2) pair frame into (src, dst). */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(pairs.select(col("p2").as("src"), col("p1").as("dst")))

  /** Integer fixed-point PageRank over an undirected pair frame.
    *
    * Recurrence (all BIGINT):
    *   r0(v)      = 1,000,000
    *   contrib(u) = r(u) DIV deg(u)
    *   r'(v)      = 150,000 + (85 · Σ_{u→v} contrib(u)) DIV 100
    *
    * Plan at scale: the symmetric edge frame is hash-partitioned on src
    * ONCE and checkpointed — every iteration reuses that layout; one
    * iteration = one co-partitioned edges⋈ranks join + one dst-keyed
    * map-combined sum + one node-sized join back to degrees. The ranks
    * frame is node-bound (≪ edges), lineage is truncated per iteration
    * (localCheckpoint) and intermediate checkpoints are released — the
    * Pregel shape without a driver-side vertex program.
    *
    * Input contract (the r12 verdict's dangling-mass question): the
    * pair frame is treated as an UNDIRECTED pair list and, by default,
    * normalized to the simple graph first (self-loops dropped,
    * least/greatest + distinct — the g2 discipline), THEN symmetrized.
    * Symmetrization is structural, so every node in the graph has
    * in-edges and the no-dangling-mass precondition holds by
    * CONSTRUCTION, not by assumption: a caller passing a directed edge
    * frame (both orientations present, or duplicates) gets the
    * undirected simple graph's ranks, never silently double-counted
    * degrees (spec-pinned on a directed fixture). `assumeNormalized`
    * skips the normalization exchange for inputs that are provably
    * p1<p2-distinct already (copurchasePairs ends in exactly that
    * shape), keeping g1's hot path unchanged.
    *
    * Returns the full (node, degree, rank_micro) frame. */
  /** Target (src, dst, dst_deg) edge rows per cached partition of the
    * iterative operators' edge layout — ~12-50 MB per partition of
    * deserialized row cache. The partition count FOLLOWS the measured
    * edge count (guide §2: scale-adaptive partitioning, never a constant
    * and never blindly the session width): a bench-scale graph lays out
    * in a handful of partitions instead of width × M×R shuffle-block
    * fan-out per iteration (measured: the r17 128-partition layout paid
    * 128×128 blocks per step for a 12 MB frame — 2.0-2.5 s/step of pure
    * shuffle-machinery overhead, 0.4-0.5 s at the derived count), while
    * a 100 TB edge set caps at 4× the cluster's parallelism. */
  val EdgeRowsPerPartition = 500000L

  private[operators] def edgeParts(s: SparkSession, rows: Long): Int =
    math.max(1, math.min(s.sparkContext.defaultParallelism * 4,
      (rows / EdgeRowsPerPartition).toInt + 1))

  /** Route of the broadcast-local graph kernels (long-keyed pairs only):
    * when [[graft.Sliver]] admits the `nPairs`-row sliver, one driver
    * pass replaces iterations × fixed stage overhead (g1 paid ~0.4-0.5 s
    * of scheduler round-trips PER STEP for ~10 M long ops). Every kernel
    * is EXACT integer arithmetic, so the local replication is
    * bit-identical to the frame fixed point (GraphLocalEquivalenceSpec). */
  private def underLocalGate(p: DataFrame, nPairs: Long): Boolean =
    p.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType) &&
      graft.Sliver.fits("graph", p.sparkSession)(
        () => graft.Sliver.footprint(p.schema, nPairs))

  /** Collected (p1, p2) pair sliver as dense-indexed endpoint arrays:
    * (node id per dense index, edge endpoint a, edge endpoint b). Null
    * endpoints are skipped (the normalized paths filter them upstream;
    * the ccLocalLabels convention). */
  private def collectPairs(p: DataFrame)
      : (Array[Long], Array[Int], Array[Int]) = {
    val rows = p.collect()
    val idx = new scala.collection.mutable.LongMap[Int]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def ix(id: Long): Int = idx.getOrElse(id, {
      val i = ids.length; idx(id) = i; ids += id; i
    })
    val ea = new scala.collection.mutable.ArrayBuffer[Int](rows.length)
    val eb = new scala.collection.mutable.ArrayBuffer[Int](rows.length)
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        ea += ix(r.getLong(0)); eb += ix(r.getLong(1))
      }
    }
    (ids.toArray, ea.toArray, eb.toArray)
  }

  /** Driver-local replication of the [[pageRank]] recurrence over a
    * collected pair sliver. Exact BIGINT arithmetic throughout: Long
    * `/` on the nonnegative rank/degree values IS SQL's integer DIV,
    * and the inflow sums are exact long sums (order-independent), so
    * the result is bit-identical to the frame fixed point at every
    * iteration. Multi-edges (possible only under assumeNormalized
    * misuse) contribute per occurrence, exactly as the frame's
    * symmetric join does. */
  private def pageRankLocal(p: DataFrame, iterations: Int): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val (ids, ea, eb) = collectPairs(p)
    val n = ids.length
    val m = ea.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(ea(i)) += 1L; deg(eb(i)) += 1L; i += 1 }
    var rank = Array.fill(n)(InitRank)
    var it = 0
    while (it < iterations) {
      val inflow = new Array[Long](n)
      i = 0
      while (i < m) {
        inflow(eb(i)) += rank(ea(i)) / deg(ea(i))
        inflow(ea(i)) += rank(eb(i)) / deg(eb(i))
        i += 1
      }
      val next = new Array[Long](n)
      var v = 0
      while (v < n) { next(v) = Teleport + (DampPct * inflow(v)) / 100L; v += 1 }
      rank = next
      it += 1
    }
    (0 until n).map(v => (ids(v), deg(v), rank(v)))
      .toDF("node", "degree", "rank_micro")
      .coalesce(graft.Sliver.localParts(spark, n))
  }

  /** Driver-local replication of the [[khopReach]] BFS over a collected
    * pair sliver. The report is exact counts + exact modular checksums
    * (Long `%` is Spark's Remainder), both order-independent — the
    * local walk is bit-identical to the frame walk, including the frame
    * subtleties: a null seed row survives `distinct` and counts at hop
    * 0 (count(lit(1))) but joins nothing and checksums nothing. */
  private def khopLocal(p: DataFrame, seedNodes: DataFrame,
      hops: Int): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val (ids, ea, eb) = collectPairs(p)
    val n = ids.length
    val m = ea.length
    // CSR adjacency over the symmetrized pairs
    val outDeg = new Array[Int](n)
    var i = 0
    while (i < m) { outDeg(ea(i)) += 1; outDeg(eb(i)) += 1; i += 1 }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val fill = start.clone()
    i = 0
    while (i < m) {
      adj(fill(ea(i))) = eb(i); fill(ea(i)) += 1
      adj(fill(eb(i))) = ea(i); fill(eb(i)) += 1
      i += 1
    }
    val idx = new scala.collection.mutable.LongMap[Int]()
    i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    val seedRows = seedNodes.distinct().collect()
    var hasNullSeed = false
    val seeds = seedRows.flatMap { r =>
      if (r.isNullAt(0)) { hasNullSeed = true; None } else Some(r.getLong(0))
    }
    val P = 1000000007L
    def checksum(nodes: Iterable[Long]): Long =
      if (nodes.isEmpty) 0L else nodes.map(_ % P).sum % P
    val visited = new java.util.HashSet[Long]()
    seeds.foreach(visited.add)
    var frontier: Array[Long] = seeds
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (0L, seeds.length.toLong + (if (hasNullSeed) 1L else 0L), checksum(seeds)))
    for (h <- 1 to hops) {
      val nextSet = new java.util.HashSet[Long]()
      frontier.foreach { f =>
        idx.get(f).foreach { fi =>
          var j = start(fi)
          while (j < start(fi + 1)) {
            val w = ids(adj(j))
            if (!visited.contains(w)) nextSet.add(w)
            j += 1
          }
        }
      }
      val next = nextSet.toArray(new Array[java.lang.Long](0)).map(_.longValue)
      next.foreach(visited.add)
      frontier = next
      out += ((h.toLong, next.length.toLong, checksum(next)))
    }
    out.toSeq.toDF("hop", "n_parts", "checksum")
      .coalesce(graft.Sliver.localParts(spark, out.length))
  }

  /** Driver-local replication of the [[triangleStats]] census over a
    * collected normalized pair sliver: the same (deg, node) orientation,
    * triangles counted once per oriented wedge source via sorted
    * out-list intersection (each triangle {x→y, x→z, y→z} is found
    * exactly at its unique source edge (x, y)). All outputs are exact
    * integer counts / integer DIV — order-independent, bit-identical to
    * the frame census. Work is Σ(out-deg(u) + out-deg(v)) over oriented
    * edges; degree-ordering bounds out-degrees at O(√m), and the
    * registered co-purchase graphs' degrees are basket-bounded, so a
    * gate-sized sliver is a sub-second single pass. */
  private def triangleStatsLocal(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val (ids, ea, eb) = collectPairs(p)
    val n = ids.length
    val m = ea.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(ea(i)) += 1L; deg(eb(i)) += 1L; i += 1 }
    var sumDeg = 0L
    var wedges = 0L
    i = 0
    while (i < n) { sumDeg += deg(i); wedges += deg(i) * (deg(i) - 1L) / 2L; i += 1 }
    // orient each edge from the (deg, node-id)-lexicographically smaller
    // endpoint — the frame's exact CASE expression
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      val a = ea(i); val b = eb(i)
      val aFirst = deg(a) < deg(b) || (deg(a) == deg(b) && ids(a) < ids(b))
      src(i) = if (aFirst) a else b
      dst(i) = if (aFirst) b else a
      i += 1
    }
    // CSR out-adjacency, out-lists sorted by dense index for the merges
    val outDeg = new Array[Int](n)
    i = 0
    while (i < m) { outDeg(src(i)) += 1; i += 1 }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = start.clone()
    i = 0
    while (i < m) { adj(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1 }
    i = 0
    while (i < n) {
      java.util.Arrays.sort(adj, start(i), start(i + 1)); i += 1
    }
    var tri = 0L
    i = 0
    while (i < m) {
      val u = src(i); val v = dst(i)
      var x = start(u); var y = start(v)
      val xe = start(u + 1); val ye = start(v + 1)
      while (x < xe && y < ye) {
        val c = adj(x) - adj(y)
        if (c == 0) { tri += 1L; x += 1; y += 1 }
        else if (c < 0) x += 1
        else y += 1
      }
      i += 1
    }
    val ppm = if (wedges > 0L) 3000000L * tri / wedges else 0L
    // the frame's sums over an empty graph are SQL NULL, as in the oracle
    def sum(x: Long): Option[Long] = if (n == 0) None else Some(x)
    Seq((n.toLong, sum(sumDeg / 2L), sum(wedges), tri, ppm))
      .toDF("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering_ppm")
      .coalesce(graft.Sliver.localParts(spark, 1))
  }

  private[operators] def pageRank(pairs: DataFrame, iterations: Int,
      assumeNormalized: Boolean = false): DataFrame = {
    val normalized =
      if (assumeNormalized) pairs
      else pairs.filter(col("p1") =!= col("p2"))
        .select(least(col("p1"), col("p2")).as("p1"),
          greatest(col("p1"), col("p2")).as("p2"))
        .distinct()
    // materialize the pair set ONCE; its measured count sizes the whole
    // iteration layout (the materializing checkpoint doubles as the
    // count job — Shim.localCheckpointWithCount)
    val (p, nPairs) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(normalized)
    // size-gated broadcast-local recurrence (see [[underLocalGate]])
    if (underLocalGate(p, nPairs)) {
      val out = pageRankLocal(p, iterations)
      Checkpoints.release(p)
      return out
    }
    val spark = p.sparkSession
    val parts = edgeParts(spark, nPairs * 2L)
    // static frames persist COLUMNAR (compressed in-memory cache): the
    // edge set is the big reused artifact, and a row-format
    // localCheckpoint of it blows the storage pool at 30x replica scale
    // (measured: cache thrash put sf3 at 4.4x sf1; columnar fits and
    // the sweep is linear). Lineage truncation is only needed on the
    // ITERATED frame (ranks), which stays a per-iteration checkpoint.
    //
    // The DST endpoint's degree is pre-attached to the cached edge row:
    // the recurrence needs deg(dst) only to label the output row, and
    // carrying it through the inflow aggregation's grouping key deletes
    // the old per-iteration deg-join (which planned as a SortMergeJoin —
    // aggregates inherit their child's size estimate, so the node-sized
    // deg frame never broadcast). Under symmetrization every node has
    // in-edges, so the inflow aggregate covers every node and the old
    // left-join/coalesce(in_c, 0) semantics are vacuously preserved
    // (the oracle's own recurrence uses inner joins for the same
    // reason).
    import org.apache.spark.storage.StorageLevel
    val eSym = symmetric(p)
    val deg = eSym.groupBy(col("src").as("dst")).agg(count(lit(1)).as("dst_deg"))
    val edges = eSym.join(deg.hint("SHUFFLE_HASH"), Seq("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = deg.select(col("dst").as("node"), col("dst_deg").as("degree"),
      lit(InitRank).as("rank_micro")).localCheckpoint()
    // integer DIV throughout — a double divide + cast could round a
    // quotient across an integer boundary and diverge from the oracle.
    // SHUFFLE_HASH on the node-sized ranks side: edges are already
    // hash-partitioned on src, so the join neither exchanges nor SORTS
    // the edge set — without the hint, a graph whose ranks frame
    // outgrows the broadcast threshold silently degrades to a per-
    // iteration sort-merge over every edge (measured 5.2x for 3x data
    // at sf3; with the hint the sweep is linear)
    def step(r: DataFrame): DataFrame = {
      val contrib = edges.join(r.hint("SHUFFLE_HASH"),
          edges("src") === r("node"))
        .select(col("dst"), col("dst_deg"), expr("rank_micro DIV degree").as("c"))
      contrib.groupBy(col("dst"), col("dst_deg"))
        .agg(sum(col("c")).as("in_c"))
        .select(col("dst").as("node"), col("dst_deg").as("degree"),
          (lit(Teleport) + expr(s"($DampPct * in_c) DIV 100")).as("rank_micro"))
    }
    // TWO iterations per checkpoint (the connectedComponents two-rounds-
    // per-action discipline): the recurrence composes lazily — iteration
    // 2's plan holds iteration 1's ONCE (linear growth, no stat
    // feedback), so batching halves the per-iteration driver actions
    // that dominate at bench scale while the at-scale shuffle structure
    // per iteration is unchanged (plan-identical per step).
    var it = 0
    while (it < iterations) {
      val steps = math.min(2, iterations - it)
      val next = (1 to steps).foldLeft(ranks)((r, _) => step(r)).localCheckpoint()
      Checkpoints.release(ranks)
      ranks = next
      it += steps
    }
    Checkpoints.release(p)
    ranks
  }

  /** g1: PageRank centrality of the co-purchase graph — the top
    * [[TopK]] parts by 4-iteration integer PageRank. The batch
    * "what anchors the catalog" signal behind related-item serving. */
  def g1PageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(copurchasePairs(s, dir), Iterations, assumeNormalized = true)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(TopK)

  /** One CTE per PageRank iteration — the oracle replicates the exact
    * integer recurrence. */
  private def pageRankIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       | SELECT d.src AS node, d.deg AS deg,
       |  CAST(150000 + (85 * sum(r.rank // r.deg)) // 100 AS bigint) AS rank
       | FROM edges e JOIN $prev r ON e.src = r.node
       |  JOIN deg d ON d.src = e.dst
       | GROUP BY 1, 2)""".stripMargin

  private val copurchaseEdgesSql =
    """items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      | SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      | FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
      |          UNION ALL SELECT p2, p1 FROM pairs),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)""".stripMargin

  val g1Sql: String = {
    val iters = (1 to Iterations)
      .map(i => pageRankIterSql(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH $copurchaseEdgesSql,
       |r0 AS (SELECT src AS node, deg, CAST(1000000 AS bigint) AS rank
       |       FROM deg),
       |$iters
       |SELECT node, deg AS degree, rank AS rank_micro FROM r$Iterations
       |ORDER BY rank_micro DESC, node LIMIT $TopK""".stripMargin
  }

  /** g3 seed predicate (a brand's parts) and hop budget. */
  val ReachBrand = "Brand#11"
  val ReachHops = 3

  /** g3: K-HOP REACH — breadth-first blast radius over the co-purchase
    * graph: how many parts sit at minimum distance 1, 2, 3 from a seed
    * set (one brand's parts — the "recalled component" / "promoted
    * set" contagion question). Per hop: part count + the q42 modular
    * id receipt, so the frontier SETS are driver-gated, not just their
    * sizes.
    *
    * The traversal member of the graph family (g1 = fixed-point, g2 =
    * motif): per hop ONE frontier⋈edges join — frontier side
    * SHUFFLE_HASH against the src-partitioned edge cache (g1's layout,
    * reused rationale: broadcast dies when a frontier saturates the
    * graph; hash-join needs no sort) — then distinct + anti-join
    * against the visited set. Frontier/visited frames are node-bound;
    * per-hop lineage is truncated (localCheckpoint) and released.
    * Seeds that never co-occur with anything still report at hop 0. */
  def g3KhopReach(s: SparkSession, dir: String): DataFrame =
    khopReach(copurchasePairs(s, dir),
      Tables.part(s, dir).filter(col("p_brand") === ReachBrand)
        .select(col("p_partkey").as("node")),
      ReachHops)

  /** BFS body over any (p1, p2) pair frame + (node) seed frame —
    * fixture-pluggable for the spec's driver-side BFS recompute. */
  private[operators] def khopReach(pairs: DataFrame, seedNodes: DataFrame,
      hops: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // pair set materialized once; its count sizes the edge-cache layout
    // (the pageRank partitioning discipline — see EdgeRowsPerPartition)
    val (p, nPairs) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(pairs)
    // size-gated broadcast-local BFS (see [[underLocalGate]]):
    // the report is exact counts + exact modular checksums — both
    // order-independent, so the local walk is bit-identical. The seed
    // frame must be long-keyed too (the pairs gate can't see it).
    if (seedNodes.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType) &&
        underLocalGate(p, nPairs)) {
      val out = khopLocal(p, seedNodes, hops)
      Checkpoints.release(p)
      return out
    }
    val edges = symmetric(p)
      .repartition(edgeParts(p.sparkSession, nPairs * 2L), col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = seedNodes.distinct().localCheckpoint()
    def report(frontier: DataFrame, hop: Int): DataFrame =
      frontier.agg(count(lit(1)).as("n_parts"),
        coalesce(expr("sum(node % 1000000007) % 1000000007"), lit(0L))
          .as("checksum"))
        .select(lit(hop.toLong).as("hop"), col("n_parts"), col("checksum"))
    var frontier = seeds
    // visited stays a LAZY union of the per-hop frontier checkpoints —
    // the old per-hop `visited` checkpoint re-materialized rows that
    // were already checkpoint-backed (hops × one pure-overhead job;
    // the anti-join probes the k-checkpoint union just as cheaply)
    var visited = seeds
    var out = report(seeds, 0)
    for (h <- 1 to hops) {
      val next = edges.join(frontier.hint("SHUFFLE_HASH"),
          edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint()
      // no release: the per-hop report frames read these checkpoints
      // lazily at collection time; all are node-bound and the context
      // cleaner reclaims them once unreferenced
      visited = visited.unionByName(next)
      frontier = next
      out = out.unionByName(report(next, h))
    }
    out.orderBy("hop")
  }

  val g3Sql: String = {
    s"""WITH $copurchaseEdgesSql,
       |v0 AS (SELECT DISTINCT p_partkey AS node FROM part
       |       WHERE p_brand = '$ReachBrand'),
       |f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
       |        JOIN v0 ON e.src = v0.node
       |       EXCEPT SELECT node FROM v0),
       |vis1 AS (SELECT node FROM v0 UNION SELECT node FROM f1),
       |f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
       |        JOIN f1 ON e.src = f1.node
       |       EXCEPT SELECT node FROM vis1),
       |vis2 AS (SELECT node FROM vis1 UNION SELECT node FROM f2),
       |f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
       |        JOIN f2 ON e.src = f2.node
       |       EXCEPT SELECT node FROM vis2),
       |rep AS (
       | SELECT 0 AS hop, count(*) AS n, coalesce(sum(node % 1000000007) % 1000000007, 0) AS c FROM v0
       | UNION ALL
       | SELECT 1, count(*), coalesce(sum(node % 1000000007) % 1000000007, 0) FROM f1
       | UNION ALL
       | SELECT 2, count(*), coalesce(sum(node % 1000000007) % 1000000007, 0) FROM f2
       | UNION ALL
       | SELECT 3, count(*), coalesce(sum(node % 1000000007) % 1000000007, 0) FROM f3)
       |SELECT cast(hop AS bigint) AS hop, n AS n_parts,
       | cast(c AS bigint) AS checksum
       |FROM rep ORDER BY hop""".stripMargin
  }

  /** Triangle + wedge census of an undirected pair frame.
    *
    * Edges are ORIENTED from the lexicographically smaller (degree,
    * node) endpoint to the larger — the node-iterator bound: each
    * triangle is enumerated exactly once, and per-node oriented
    * out-degree is O(√m) on any graph, so the wedge join is bounded
    * even around hub nodes (the reason a 100 TB run survives a
    * celebrity part that co-occurs with everything). One join builds
    * the oriented wedges, one semi-join closes them against the edge
    * set; wedges come from exact integer C(deg, 2) arithmetic, not
    * enumeration. */
  private[operators] def triangleStats(pairs: DataFrame): DataFrame = {
    // normalize to a simple graph: p1 < p2, no duplicates, no self-loops.
    // localCheckpoint, NOT columnar persist: both eager and lazy persist
    // were measured slower here (10-19 s vs 6 s at sf0.1) — the
    // checkpoint's exact row stats keep the degree-attach joins
    // broadcast-hash, while InMemoryRelation estimates push them to
    // sort-merge (two extra sorts of the pair set)
    val (p, nP) = org.apache.spark.sql.graftshim.Shim.localCheckpointWithCount(
      pairs.filter(col("p1") =!= col("p2"))
        .select(least(col("p1"), col("p2")).as("p1"),
          greatest(col("p1"), col("p2")).as("p2"))
        .distinct())
    // size-gated broadcast-local census (see [[underLocalGate]])
    if (underLocalGate(p, nP)) {
      val out = triangleStatsLocal(p)
      Checkpoints.release(p)
      return out
    }
    val deg = symmetric(p).groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // orient each edge by (deg, node) lexicographic order. The oriented
    // frame feeds BOTH sides of the wedge self-join: repartition on u +
    // columnar persist makes that join co-partitioned (zero exchange)
    // and computes the two degree-attach joins ONCE (unpersisted, each
    // side re-derived them — at sf3 that alone re-read the fact table
    // twice). The degree-attach joins are hinted SHUFFLE_HASH: deg is
    // node-sized but inherits the pair frame's size ESTIMATE (aggregates
    // keep their child's sizeInBytes), so the planner put both joins on
    // SortMergeJoin — two full sorts of the pair set per build (r17
    // plan, nodes 46-68). A hash build on the node-sized deg side
    // streams the pairs unsorted; the exchanges stay. Partition count
    // follows the measured pair count (EdgeRowsPerPartition).
    import org.apache.spark.storage.StorageLevel
    val da = deg.hint("SHUFFLE_HASH").select(col("node").as("p1"), col("deg").as("deg_a"))
    val db = deg.hint("SHUFFLE_HASH").select(col("node").as("p2"), col("deg").as("deg_b"))
    val oriented = p.join(da, "p1").join(db, "p2")
      .select(
        when(col("deg_a") < col("deg_b") ||
          (col("deg_a") === col("deg_b") && col("p1") < col("p2")),
          col("p1")).otherwise(col("p2")).as("u"),
        when(col("deg_a") < col("deg_b") ||
          (col("deg_a") === col("deg_b") && col("p1") < col("p2")),
          col("p2")).otherwise(col("p1")).as("v"))
      // unlike the ITERATIVE edge caches (pageRank/khop — shuffle-
      // machinery-bound, where fewer partitions win), the wedge join
      // below does Σ deg(u)² work per u-partition: its parallelism is
      // the oriented layout's partition count, so the size-derived
      // count FLOORS at the session width (measured: the bare
      // edgeParts count of 2 at sf0.1 serialized the wedge join onto
      // 2 cores — 5.5 s → 9.4 s; floored it runs the full width)
      .repartition(math.max(p.sparkSession.sparkContext.defaultParallelism,
        edgeParts(p.sparkSession, nP)), col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w1 = oriented.select(col("u"), col("v").as("a"))
    val w2 = oriented.select(col("u"), col("v").as("b"))
    val wedgesOriented = w1.join(w2, Seq("u")).filter(col("a") < col("b"))
    // close the wedge: (a, b) must be an (undirected) edge. The edge
    // side is hinted SHUFFLE_HASH: the default sort-merge plan SORTS the
    // wedge stream — O(wedges) = 1.2 B rows at sf3, the measured spill
    // wall (sf0.1→sf3 went 6 s → ~200 s, superlinear purely in the
    // sort). A hash close builds on the EDGE side (√m-bounded per
    // partition under the wide AQE initial partitioning) and streams
    // the wedges through unsorted — the exchange stays, the sort (and
    // its spill files) disappear.
    val undirected = p.select(col("p1").as("a"), col("p2").as("b"))
    val triangles = wedgesOriented
      .join(undirected.hint("SHUFFLE_HASH"), Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) DIV 2").as("n_edges"),
      expr("sum(deg * (deg - 1) DIV 2)").as("n_wedges"))
    totals.crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(3000000 * n_triangles) DIV n_wedges"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** g2: triangle census of the co-purchase graph — nodes, edges,
    * wedges, triangles, and the global clustering coefficient in exact
    * ppm (3·triangles / wedges). The motif statistic behind
    * community-structure screens (a corpus-curation analogue: how
    * clubby is the duplicate/collision graph). */
  def g2Triangles(s: SparkSession, dir: String): DataFrame =
    triangleStats(copurchasePairs(s, dir))

  val g2Sql: String =
    s"""WITH $copurchaseEdgesSql,
       |oriented AS (
       | SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.p1 < p.p2)
       |             THEN p.p1 ELSE p.p2 END AS u,
       |        CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.p1 < p.p2)
       |             THEN p.p2 ELSE p.p1 END AS v
       | FROM pairs p JOIN deg da ON da.src = p.p1 JOIN deg db ON db.src = p.p2),
       |tri AS (
       | SELECT count(*) AS n_triangles
       | FROM (SELECT w1.v AS a, w2.v AS b
       |       FROM oriented w1 JOIN oriented w2 ON w1.u = w2.u AND w1.v < w2.v) w
       | WHERE EXISTS (SELECT 1 FROM pairs e WHERE e.p1 = w.a AND e.p2 = w.b)),
       |tot AS (
       | SELECT count(*) AS n_nodes, CAST(sum(deg) // 2 AS bigint) AS n_edges,
       |        CAST(sum(deg * (deg - 1) // 2) AS bigint) AS n_wedges
       | FROM deg)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CAST(CASE WHEN n_wedges > 0
       |       THEN (3000000 * n_triangles) // n_wedges ELSE 0 END AS bigint)
       |    AS clustering_ppm
       |FROM tot, tri""".stripMargin

  /** g4 edge threshold: a pair must co-occur in at least this many
    * orders to count as a REPEAT tie. */
  val RepeatCopurchaseMin = 2L

  /** g4: CONNECTED COMPONENTS of the repeat co-purchase graph — the
    * component decomposition member of the graph family (g1 =
    * fixed-point, g2 = motif, g3 = traversal, g4 = partition). Edges
    * are pairs co-purchased in ≥ [[RepeatCopurchaseMin]] orders (the
    * "strong tie" screen — one shared basket is noise, repetition is
    * signal); each component is a product community, labeled by its
    * minimum part key, reported as (component_id, n_parts, n_edges)
    * largest-first. The storefront twin of the dedup family's cluster
    * collapse: d7 runs the SAME star-contraction over the near-dup
    * graph; g4 is that machinery as a first-class graph query.
    *
    * Plan at scale: the threshold screen is a map-combined count on
    * (p1, p2) — the edge set that survives is a sliver of the pair
    * stream, and everything iterative runs on THAT sliver. Components
    * come from alternating large-star/small-star contraction
    * ([[Dedup.connectedComponentsStar]] — Kiveris et al., SoCC'14):
    * O(log n) rounds of groupBy-min + self-join, no
    * O(diameter) propagation, no driver-side union-find. Both report
    * rollups are component-bound aggregates; nothing after the screen
    * touches the fact table.
    *
    * The oracle replicates the decomposition by recursive transitive
    * closure — O(Σ component²) rows, which the threshold keeps small
    * BY CONSTRUCTION (max component at sf0.1 is 14 nodes); the engine
    * side never materializes a closure at any component size. */
  def g4Components(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey").distinct()
    val a = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = items.select(col("l_orderkey"), col("l_partkey").as("p2"))
    // the strong-tie screen: repeat pairs only. localCheckpoint — the
    // contraction loop re-reads this frame every round; truncating the
    // two-fact-scan lineage here is the g1 edge-cache rationale.
    val strong = a.join(b, Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= RepeatCopurchaseMin)
      .select(col("p1").as("u"), col("p2").as("v"))
      .localCheckpoint()
    componentLedger(strong)
  }

  /** Component rollup over any (u, v) edge frame — fixture-pluggable
    * for the spec's driver-side BFS recompute. */
  private[operators] def componentLedger(edges: DataFrame): DataFrame = {
    val labels = Dedup.connectedComponentsStar(edges)
    val nodeComp = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_parts"))
    val edgeComp = edges.join(labels, edges("u") === labels("id"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_edges"))
    nodeComp.join(edgeComp, Seq("label"))
      .select(col("label").as("component_id"), col("n_parts"), col("n_edges"))
      .orderBy(col("n_parts").desc, col("component_id"))
  }

  val g4Sql: String =
    s"""WITH RECURSIVE items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |strong AS (
       | SELECT a.l_partkey AS u, b.l_partkey AS v
       | FROM items a JOIN items b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       | GROUP BY 1, 2 HAVING count(*) >= $RepeatCopurchaseMin),
       |e AS (SELECT u, v FROM strong UNION ALL SELECT v, u FROM strong),
       |reach(a, b) AS (
       | SELECT u, u FROM (SELECT DISTINCT u FROM e)
       | UNION
       | SELECT e.v, r.b FROM reach r JOIN e ON e.u = r.a),
       |lbl AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY a),
       |nodes AS (SELECT label, count(*) AS n_parts FROM lbl GROUP BY label),
       |edges_c AS (
       | SELECT l.label, count(*) AS n_edges
       | FROM strong s JOIN lbl l ON s.u = l.id GROUP BY 1)
       |SELECT n.label AS component_id, n.n_parts, c.n_edges
       |FROM nodes n JOIN edges_c c ON n.label = c.label
       |ORDER BY n_parts DESC, component_id""".stripMargin
}
