package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.Tables
import graft.functions.{TopK, VectorExpressions => V}

/** s21: graph-based ANN — the HNSW index SHAPE the reference actually
  * serves from (customTrainDataController.js:28-86 builds an hnswlib
  * index; conversationController.js:31-38 queries it), re-expressed as
  * a deterministic Spark build + greedy beam-search read (Malkov &
  * Yashunin, "Efficient and robust approximate nearest neighbor search
  * using Hierarchical Navigable Small World graphs", TPAMI 2018).
  *
  * This is the LAST index family the inventory lacked (IVF/LSH/PQ/SQ8/
  * binary are s2/s4/s8-s11/s14): a layered neighbor graph walked
  * greedily from a single entry point. hnswlib's build is inherently
  * SEQUENTIAL (every insert searches the graph built so far — a loop
  * carried dependence across the corpus), so a faithful port would
  * serialize 100 TB through one writer. The Spark-first re-expression
  * keeps the two properties that make HNSW work and drops the
  * insertion-order coupling:
  *
  *   - **Layering by id-hash** (the determinism the spec pins): node
  *     level = trailing base-[[LayerBase]] zeros of the node's 60-bit
  *     md5 id-hash — the same geometric level distribution HNSW draws
  *     from exp(-level·ln(base)) randomness, but a pure function of
  *     vec_id, so two builds of the same corpus are bit-identical (no
  *     oracle row: DuckDB has no graph walk; the class is spec-defined
  *     like d4/m4, with the driver recording rows-only).
  *   - **Fixed-degree neighbor lists from cosine top-M.** Every layer
  *     links each member to its top-[[M]] cosine neighbors WITHIN the
  *     layer: upper layers (exponentially thin: |L_l| ≈ n/base^l)
  *     provide the long-range "highways", layer 0 is the kNN graph.
  *     Above [[BucketedThreshold]] members, neighbor CANDIDATES come
  *     from multi-band hyperplane-LSH buckets (an equi-join — the
  *     bucketed d5/s3 path) before the exact top-M cut, so no n²
  *     candidate stream survives in the registered plan at scale; the
  *     exact all-pairs form remains the below-threshold/spec truth
  *     (knnExact vs knnBucketed — the candidates-then-exact trade
  *     every large-scale kNN-graph build makes, recall spec-pinned).
  *
  *   - **Exact-collapse-first** ([[distinctCorpus]]): the graph indexes
  *     one canonical id per DISTINCT embedding; the read re-expands
  *     hits to replica ids. Duplicate vectors otherwise form closed
  *     cosine-1.0 cliques that disconnect layer 0 (measured: recall
  *     0.10 on the 10×-replicated sf1 corpus) — the d1 discipline,
  *     applied to the index.
  *
  * Read path (the serving contract): greedy DESCENT through the upper
  * layers (per layer, [[DescentHops]] hops of beam width 1 from the
  * deterministic entry point — the max-layer, min-id node of the
  * adjacency), then a [[BeamHops]]-hop beam search of width [[Ef]]
  * over the layer-0 graph; report top-[[K]] of everything visited,
  * expanded to replicas. Each hop is one broadcast join of the
  * (queries × beam)-sized frontier against the persisted adjacency —
  * the corpus is never shuffled at read time, and the visited set is
  * (queries × Ef × hops)-bounded.
  *
  * Scale: the per-layer top-M aggregates are map-combined with O(n·M)
  * output; the upper-layer all-pairs is quadratic only in n/base^l. At
  * read time the adjacency frame plays the role of g1's columnar edge
  * cache: persisted once, probed per hop by a broadcast frontier.
  */
object Hnsw {

  /** Neighbor-list degree per layer. */
  val M = 6

  /** Level distribution base: P(level ≥ l) = base^-l. */
  val LayerBase = 8L

  /** Max level (levels 0..MaxLevel). */
  val MaxLevel = 2

  /** Read-path widths. [[DescentHops]]/[[BeamHops]] are CAPS: the walk
    * terminates early at its fixed point (descent: the greedy step
    * stops improving for every query; beam: a hop adds no unvisited
    * node — hnswlib's own dynamic termination, re-expressed on
    * materialized frames). A fixed small hop count was the r14 form,
    * and it silently truncated the walk on corpora a few times larger
    * than spec scale: HNSW's read is O(log n) HOPS BY DESIGN, so the
    * budget must follow the corpus, not a constant (measured at the
    * 20k-distinct perturbed sf1: recall@5 0.20 with 6 fixed hops). */
  val Ef = 16
  val K = 5
  val DescentHops = 12
  val BeamHops = 32

  /** Node level: trailing base-8 zeros of the 60-bit md5 id-hash, capped
    * at [[MaxLevel]]. A pure function of vec_id — rebuild-deterministic. */
  private[operators] def levelCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = graft.functions.Md5PrefixModF(id.cast("string"), 1L << 60)
    when(h % (LayerBase * LayerBase) === 0, MaxLevel)
      .when(h % LayerBase === 0, 1)
      .otherwise(0)
  }

  /** Layer-size threshold above which a layer's kNN graph is built from
    * LSH-bucketed candidates instead of the exact all-pairs self-join.
    * Below it the exact form is cheap (≤ threshold² ≈ 16M scored pairs)
    * and stays as the spec cross-check — the d2/d23 precedent: the
    * exact plan is the truth fixture, the screened plan the registered
    * default at scale. */
  val BucketedThreshold = 4096L

  /** Bucketed candidate generation: number of independent hyperplane
    * bands (a pair is a candidate if it shares ANY band's bucket). */
  val Bands = 6

  /** Target bucket population the per-layer plane count aims at. */
  val TargetBucket = 256L

  /** Hard ceiling on planes per band: 2^20 ≈ 1M buckets per band covers
    * a 256M-member layer at the 256 target — far past any single-index
    * corpus this engine serves — while keeping the plane table trivial
    * (Bands × 20 × Dim floats). The r14 form clamped at 8, which
    * silently abandoned the bucket target above 65k-member layers
    * (bucket population grew as n/256 with parallelism capped at
    * bands × 256 tasks); the clamp now binds only where no realistic
    * layer reaches. */
  val MaxPlanes = 20

  /** Deterministic random hyperplanes for the bucketed build — same
    * float32-exact k/1024 grid recipe as [[Similarity.planes]] with a
    * different multiplier, so the two plane families are independent.
    * Sized for [[Bands]] × [[MaxPlanes]] bands; row i is a pure function
    * of i, so growing the table never changes existing rows (plane
    * families are stable across corpus growth). */
  private lazy val hnswPlanes: Array[Array[Float]] =
    Array.tabulate(Bands * MaxPlanes, Similarity.Dim) { (i, j) =>
      val k = (((i.toLong * Similarity.Dim + j) * 2246822519L) % 1024L) - 512L
      (k / 1024.0).toFloat
    }

  /** Planes per band for a layer of `layerN` members: enough buckets to
    * hold ~`target` members each (default [[TargetBucket]]), clamped to
    * [3, [[MaxPlanes]]] — p grows as ceil(log2(layerN / target)), so
    * bucket population stays ~target and the per-bucket row_number
    * sort keeps ~n/target tasks of bounded size at ANY corpus scale. */
  private[operators] def planesFor(layerN: Long,
      target: Long = TargetBucket): Int = {
    val p = math.ceil(math.log(math.max(layerN, 1L).toDouble / target)
      / math.log(2.0)).toInt
    math.min(MaxPlanes, math.max(3, p))
  }

  /** Per-band sign-bit buckets of an embedding (array of [[Bands]] ints;
    * band b uses planes [b·p, (b+1)·p)). Pure function of the vector —
    * the bucketed build stays rebuild-deterministic. */
  private[operators] def bandBuckets(emb: org.apache.spark.sql.Column, p: Int): org.apache.spark.sql.Column =
    array((0 until Bands).map { b =>
      (0 until p).map { i =>
        when(V.dot(emb, typedlit(hnswPlanes(b * p + i))) > 0d, lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** Candidate-pool width of the diverse neighbor cut: the top-[[PruneC]]
    * by cosine enter the pruning; the pairwise stage is C²-bounded per
    * node, never candidate-stream-shaped. */
  val PruneC = 24

  /** DIVERSE top-[[M]] neighbor cut — Malkov & Yashunin Alg. 4's
    * SELECT-NEIGHBORS-HEURISTIC in its order-independent "dominated
    * candidate" form (the pruning rule NSG / DiskANN use): from the
    * top-[[PruneC]] candidates by cosine, drop any candidate that is
    * closer to a HIGHER-RANKED candidate than to the base node — it is
    * reachable THROUGH that candidate, so keeping it buys a redundant
    * intra-cluster edge instead of an outward one. Plain top-M is the
    * known failure mode on clustered corpora: a tight cosine cluster
    * fills every member's list with its own clique, layer 0 degenerates
    * into disconnected islands, and the beam cannot navigate the final
    * approach (measured on the perturbed near-duplicate sf1 corpus:
    * recall@5 = 0.20 with plain top-M). The pruned list keeps ~1 link
    * into each nearby cluster plus the chain through its own — the
    * navigable small-world HNSW's own insert heuristic maintains.
    *
    * Scale shape: the top-C cut is the same map-combined bounded
    * aggregate as plain top-M (the candidate stream never materializes
    * past it); the pairwise stage joins C×C rows per node — C²-bounded,
    * embedding payloads attach to C rows per node only. The top-1
    * candidate is never dominated, so every node keeps ≥ 1 neighbor
    * (coverage is preserved). */
  private def diverseTopM(cands: DataFrame, members: DataFrame): DataFrame = {
    // the (possibly n²) candidate stream is consumed EXACTLY ONCE, by
    // the bounded map-combined top-C aggregate; everything after works
    // on n × C rows (a self-join formulation would re-plan the stream
    // per reference — measured: 3 copies of the exact layer's BNLJ)
    val topC = cands.groupBy("node")
      .agg(TopK.topKByScore(col("sc"), col("nid"), PruneC).as("cs"))
      .select(col("node"), posexplode(col("cs")).as(Seq("r", "nid")))
    val packed = topC
      .join(members.select(col("vec_id").as("nid"), col("embedding").as("cemb")),
        Seq("nid"))
      .groupBy("node")
      .agg(sort_array(collect_list(struct(col("r"), col("nid"), col("cemb"))))
        .as("cs"))
      .join(members.select(col("vec_id").as("node"), col("embedding").as("bemb")),
        Seq("node"))
    // the cut itself is one array expression per node: candidate c at
    // rank i survives iff NO higher-ranked candidate is closer to c
    // than the base node is; keep the first M survivors in rank order
    packed.select(col("node"),
        slice(filter(col("cs"), (c, i) =>
          !exists(slice(col("cs"), lit(1), i), p =>
            V.cosine(c.getField("cemb"), p.getField("cemb"))
              > V.cosine(c.getField("cemb"), col("bemb")))),
          1, M).as("kept"))
      .select(col("node"), explode(col("kept.nid")).as("nbr"))
  }

  /** Exact within-layer kNN: all-pairs self-join → codegen'd cosine →
    * bounded top-[[PruneC]] aggregate → diverse top-[[M]] cut. Quadratic
    * by definition — the truth form below [[BucketedThreshold]] and the
    * spec cross-check above. */
  private def knnExact(members: DataFrame): DataFrame = {
    // spread the STREAM side of the all-pairs join explicitly: the
    // corpus arrives as a handful of input splits (a 20k-row parquet
    // file is ONE split), and a broadcast-nested-loop join inherits the
    // stream side's partitioning — without this the n² candidate stream
    // funnels through one task (measured: single-task OOM at sf1's 20k
    // vectors). An explicit numeric repartition also opts out of AQE
    // coalescing, which would re-merge the tiny-BYTES frame and undo
    // the spread (candidate volume is n²/partitions, invisible to
    // byte-based coalescing).
    val par = members.sparkSession.sparkContext.defaultParallelism * 4
    val spread = members.repartition(par, col("vec_id"))
    val other = members.select(col("vec_id").as("nid"), col("embedding").as("nemb"))
    val cands = spread.join(other, col("vec_id") =!= col("nid"))
      .select(col("vec_id").as("node"), col("nid"),
        V.cosine(col("embedding"), col("nemb")).as("sc"))
    diverseTopM(cands, members)
  }

  /** Ring half-width of the bucketed candidate generation: each node
    * pairs with its [[RingWidth]] successors in id-hash order WITHIN
    * each band bucket (both directions after symmetrization), so a node
    * draws ≤ 2 × [[Bands]] × [[RingWidth]] candidates REGARDLESS of how
    * skewed the buckets are. */
  val RingWidth = 24

  /** Bucketed within-layer kNN — the registered scale path: candidates
    * come from [[Bands]] hyperplane-sign bucket families, but pairing
    * inside a bucket is RING-BOUNDED, not all-pairs: bucket members
    * sort by id-hash, and each member pairs with its next [[RingWidth]]
    * ring neighbors (one EQUI-join on (band, bucket, pos + d) — never a
    * nested loop). Candidate volume is EXACTLY ≤ Bands × RingWidth × n
    * — skew-proof by construction.
    *
    * Why not all-pairs-within-bucket (the v1 form this replaced): real
    * embedding corpora are CLUSTERED, and a cluster falls into ONE
    * sign-pattern bucket per band — Σ size² explodes on exactly the
    * data the index is for (measured at sf1's 10×-replicated 20k
    * corpus: 374 s vs 13.5 s for the exact all-pairs build — the
    * "scale path" was 27× WORSE than the thing it escapes). Ring
    * pairing in id-hash order draws a bounded uniform sample of each
    * node's bucket co-members — the bucket IS the cosine neighborhood,
    * so bounded-random within it is the right candidate distribution —
    * and six independent bands give six such samples.
    *
    * Plan shape: the ring join carries IDS ONLY (embeddings attach
    * after (node, nid) dedup, and the pair frame projects to
    * (node, nid, score) before the final map-combined top-M aggregate —
    * nothing corpus-wide ever shuffles with its vector payload). The
    * one skew-sensitive step is the per-bucket row_number sort: Σ n log
    * n per band, one task per bucket — degenerate only when the corpus
    * mass holds ONE sign pattern (byte-identical vectors — d1's job
    * before indexing, not the graph build's). Approximate where exact
    * is quadratic: a true neighbor outside every shared-bucket ring is
    * missed — the recall the spec pins vs the brute-force truth.
    *
    * Coverage guarantee: rings WRAP (pos + d mod bucket size), so every
    * member of a ≥2-member bucket draws candidates in both directions,
    * and one extra FALLBACK band buckets purely by id-hash
    * (~[[TargetBucket]] uniform members per bucket, independent of the
    * embedding) — a vector whose sign pattern isolates it in every
    * hyperplane band (an outlier) still gets ring candidates and keeps
    * a neighbor list; without it such nodes vanished from the adjacency
    * entirely and were permanently unfindable. */
  private[operators] def knnBucketed(members: DataFrame, layerN: Long): DataFrame = {
    val ring = ringCandidates(members, layerN, RingWidth)
    // symmetrize + dedup on ids alone (a pair met in several bands or
    // both ring directions scores ONCE), THEN attach the two embeddings
    val cands = ring.unionByName(
        ring.select(col("nid").as("vec_id"), col("vec_id").as("nid")))
      .dropDuplicates("vec_id", "nid")
    val scoredCands = cands
      .join(members.select(col("vec_id"), col("embedding").as("emb_n")), Seq("vec_id"))
      .join(members.select(col("vec_id").as("nid"), col("embedding").as("nemb")), Seq("nid"))
      .select(col("vec_id").as("node"), col("nid"),
        V.cosine(col("emb_n"), col("nemb")).as("sc"))
    diverseTopM(scoredCands, members)
  }

  /** The bucketed candidate generator, factored so the near-dup collapse
    * ([[nearDupCollapse]]) can draw the same skew-proof candidate stream
    * with its own ring width AND bucket granularity: per band, each
    * member pairs with its next `width` successors in id-hash order
    * within its bucket (wrapping). Returns one-directional (vec_id, nid)
    * pairs — ≤ (Bands+1) × width × n rows regardless of bucket skew.
    *
    * `target` sizes the buckets; `fineOrder` picks the within-bucket
    * ring ordering:
    *
    *   - The BUILD orders by id-hash (`fineOrder = false`): a bounded
    *     UNIFORM sample of the bucket co-members is the right candidate
    *     distribution for a top-M neighbor list.
    *   - The COLLAPSE orders by the band-bucket profile ROTATED to
    *     start at the next band (`fineOrder = true` — the
    *     sorted-neighborhood move): id-hash order only finds kin a
    *     family DOMINATING its bucket, and real sign-pattern buckets
    *     SKEW (organic vectors share popular patterns — measured:
    *     10-member families at ~2% density inside skew buckets
    *     fragmented 3-ways, rep-level recall 0.18). Family members
    *     agree on the whole profile, so lexicographic profile order
    *     makes them CONTIGUOUS inside every bucket regardless of skew.
    *     The rotation is the healing guarantee for MARGINAL planes: a
    *     plane near zero for a family splits its band-k bucket value by
    *     ±2^i — numerically far, so in a FIXED lexicographic order
    *     interlopers separate the two runs and the split member draws
    *     zero kin candidates anywhere (measured: 12% of members
    *     edge-isolated, 25% of families fragmented). Under rotation,
    *     band k+1's window sorts by the four coordinates the family
    *     AGREES on before reaching bs[k], so its tie-group is
    *     family-sized, the split runs land adjacent, and the ring spans
    *     the boundary. The fallback id-hash band gets the same
    *     ordering, turning it from useless-for-collapse (kin never
    *     co-bucket at random) into a sorted-neighborhood pass over a
    *     random slice that carries the profile coordinate (bs[0]) no
    *     hyperplane window can put last. */
  private[operators] def ringCandidates(members: DataFrame, layerN: Long,
      width: Int, target: Long = TargetBucket,
      fineOrder: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = planesFor(layerN, target)
    val idBuckets = math.max(1L, (layerN + target - 1L) / target)
    val ringHash = graft.functions.Md5PrefixModF(col("vec_id").cast("string"), 1L << 60)
    val profiled = members.select(col("vec_id"), bandBuckets(col("embedding"), p).as("bs"))
    val banded = profiled
      .select(col("vec_id"), col("bs"), posexplode(col("bs")).as(Seq("band", "bucket")))
    val fallback = profiled.select(col("vec_id"), col("bs"),
      lit(Bands).as("band"), (ringHash % idBuckets).cast("int").as("bucket"))
    val w = Window.partitionBy("band", "bucket")
    // rotated profile: (bs[band+1], bs[band+2], ..., bs[band]) — for
    // hyperplane band b the own-bucket coordinate lands last (constant
    // within the window anyway); for the fallback band the rotation is
    // the full profile starting at bs[1]
    val rotated = array((0 until Bands).map { j =>
      element_at(col("bs"), pmod(col("band") + 1 + j, lit(Bands)) + 1)
    }: _*)
    val order = if (fineOrder) Seq(rotated, ringHash, col("vec_id"))
                else Seq(ringHash, col("vec_id"))
    val keyed = banded.unionByName(fallback)
      .withColumn("pos", row_number().over(w.orderBy(order: _*)))
      .withColumn("cnt", count(lit(1)).over(w))
      .drop("bs")
    val right = keyed.select(col("band").as("band_b"),
      col("bucket").as("bucket_b"), col("pos").as("pos_b"), col("vec_id").as("nid"))
    keyed
      .withColumn("d", explode(array((1 to width).map(lit(_)): _*)))
      .join(right, col("band") === col("band_b")
        && col("bucket") === col("bucket_b")
        && ((col("pos") - 1 + col("d")) % col("cnt")) + 1 === col("pos_b"))
      .filter(col("vec_id") =!= col("nid"))
      .select(col("vec_id"), col("nid"))
  }

  /** Exact-collapse-first (the d1 discipline, applied to the index):
    * one canonical representative — min vec_id — per DISTINCT embedding.
    * Exact-duplicate vectors are the one input that breaks a plain
    * top-[[M]] neighbor graph STRUCTURALLY: each copy's M nearest
    * neighbors are its own replicas at cosine 1.0, so replicated mass
    * forms CLOSED cliques, layer 0 degenerates into a disconnected
    * archipelago, and the beam strands inside whichever clique the
    * descent lands in (measured on the 10×-replicated sf1 corpus:
    * recall@5 fell to 0.10 — one replica of the true neighbor found,
    * its tied copies unreachable). hnswlib sidesteps this with its
    * insert-order diversity heuristic; the deterministic relational
    * build collapses instead: the graph indexes DISTINCT vectors, and
    * the read path re-expands canonical hits to replica ids (identical
    * embeddings share the canonical's score by definition). One
    * embedding-keyed window per BUILD — never at read time. */
  private[operators] def distinctCorpus(e0: DataFrame): DataFrame =
    // map-combined aggregate, NOT a window over the embedding key: the
    // window form shuffles the corpus keyed on the embedding AND buffers
    // + sorts each group in one task — a boilerplate vector replicated
    // millions of times (exactly the corpus shape this collapse exists
    // for) lands on one straggler. The partial-agg form combines
    // map-side, so the hot family reduces to one row per partition
    // before the exchange (guide §2.3/§2.5; the d1/d10 hot-key
    // discipline). Output rows are identical: one (min vec_id,
    // embedding) per distinct embedding.
    e0.groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id", "embedding")

  /** The layered adjacency: (layer, node, nbr, nemb) over the DISTINCT
    * corpus ([[distinctCorpus]] — node ids are canonical ids). Each
    * (layer, node) carries ≤ [[M]] neighbors, exact-cosine-ranked (ties
    * by vec_id asc — the TopKByScore contract) within the layer's
    * candidate set.
    *
    * Per layer the candidate path is chosen by EXPECTED layer size
    * (n / base^l, one corpus count): above [[BucketedThreshold]] the
    * bucketed equi-join form ([[knnBucketed]]), below it the exact
    * all-pairs form ([[knnExact]]). Layer 0 at 100 TB is always
    * bucketed — no n² candidate stream survives in the registered
    * plan at scale; upper layers cross the same threshold as they
    * grow (n/8 is quadratic too, just later). */
  private[operators] def buildAdjacency(e0: DataFrame): DataFrame =
    buildAdjacencyImpl(e0, BucketedThreshold)

  /** Exact-everywhere build (the pre-r14 form) — the spec truth fixture
    * for small corpora; never the registered path above threshold. */
  private[operators] def buildAdjacencyExact(e0: DataFrame): DataFrame =
    buildAdjacencyImpl(e0, Long.MaxValue)

  private[operators] def buildAdjacencyImpl(e0: DataFrame,
      bucketedAbove: Long): DataFrame = {
    val dist = distinctCorpus(e0)
    val n = dist.count()
    val e = dist.withColumn("lvl", levelCol(col("vec_id")))
    val layers = (0 to MaxLevel).map { l =>
      val members =
        if (l == 0) dist.select("vec_id", "embedding")
        else e.filter(col("lvl") >= l).select("vec_id", "embedding")
      val expected = (n / math.pow(LayerBase.toDouble, l.toDouble)).toLong
      val knn = if (expected > bucketedAbove) knnBucketed(members, expected)
                else knnExact(members)
      knn.select(lit(l).as("layer"), col("node"), col("nbr"))
    }.reduce(_ unionByName _)
    // attach neighbor embeddings once, so read-time scoring never joins
    // back to the corpus
    layers
      .join(dist.select(col("vec_id").as("nbr"), col("embedding").as("nemb")), Seq("nbr"))
      .select("layer", "node", "nbr", "nemb")
  }

  /** Greedy beam-search read over a prebuilt adjacency for a (qid, qemb)
    * query batch. Returns (qid, rank, neighbor), rank 1..[[K]].
    *
    * The graph indexes DISTINCT vectors ([[distinctCorpus]]), so the
    * read re-expands: top-[[K]] CANONICALS first (replicas share their
    * canonical's cosine, so the id-level top-K can only come from the
    * top-K canonicals), then replicas by embedding equality against the
    * corpus with the (queries × K)-sized candidate set BROADCAST — two
    * corpus scans, zero corpus shuffles at read time. On a corpus with
    * no duplicate embeddings the expansion is the identity. */
  private[operators] def searchFrame(e0: DataFrame, adjAll: DataFrame,
      queries: DataFrame, ef: Int = Ef, beamHops: Int = BeamHops): DataFrame =
    expandTopK(e0, visitedFrame(e0, adjAll, queries, ef, beamHops))
      .orderBy("qid", "rank")

  /** The read's REPORTING half, shared by [[searchFrame]] and the s24
    * curve (which must score the SAME ids the serving path returns —
    * scoring canonical node ids directly would measure a different
    * id set than s21 serves on any corpus with duplicate embeddings):
    * top-[[K]] canonicals of a visited set, re-expanded to replica ids.
    * Returns (qid, rank, neighbor), rank 1..[[K]], unordered. */
  private[operators] def expandTopK(e0: DataFrame, visited: DataFrame): DataFrame = {
    // Routing (r18, the [[deleteLocal]]/[[localWalkVisited]] discipline
    // applied to the reporter): when [[graft.Sliver]] admits the
    // visited/corpus slivers, the top-K + replica re-expansion runs in
    // one driver-side pass over them ([[expandTopKLocal]], spec-pinned
    // bit-identical) — ProbeS23S24 measured the frame reporter at
    // 0.7–1.6 s of fixed stage overhead per read (~6 broadcast-join
    // stages over a 13.5k-row corpus), × 4 concurrent in s24 and once
    // per s21/s22/s23/p11 read. Otherwise the frame pass streams the
    // corpus — the only shape that works corpus-sized.
    val lt = org.apache.spark.sql.types.LongType
    val typesOk =
      visited.schema("qid").dataType == lt &&
        visited.schema("node").dataType == lt &&
        visited.schema("sc").dataType == org.apache.spark.sql.types.DoubleType &&
        e0.schema("vec_id").dataType == lt &&
        isFloatArray(e0.schema("embedding").dataType)
    // visited is request-sized (queries × ef × hops); measured first so
    // a corpus-sized e0 is only counted when visited already fits
    if (typesOk && graft.Sliver.fits("hnsw.report", e0.sparkSession)(
        () => graft.Sliver.bytes(visited), () => graft.Sliver.bytes(e0)))
      expandTopKLocal(e0, visited)
    else expandTopKFrames(e0, visited)
  }

  /** Spark's normalized float-array equality (-0.0 == 0.0, NaN == NaN)
    * as a hash key: the normalized bits of every element. */
  private def embKey(a: Array[Float]): IndexedSeq[Int] =
    a.iterator.map(f =>
      java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)).toIndexedSeq

  private[operators] def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** Driver-local replication of [[expandTopKFrames]] — bit-identical
    * by construction (HnswReportEquivalenceSpec pins it on the real
    * corpus and the duplicate-embedding fixture):
    *   - both top-K cuts are TopKBuffer's exact order (score desc via
    *     Double.compare with -0.0 normalized at insert, id asc) and
    *     skip null inputs like the aggregate's update;
    *   - the (qid, cemb) dedup and the replica-expansion join use
    *     Spark's normalized float-array equality (-0.0 == 0.0,
    *     NaN == NaN) via normalized-bits keys; which duplicate survives
    *     is value-stable (equal embedding ⇒ equal score, and the kept
    *     cemb only ever feeds the same normalized-equality match set);
    *   - rows with a null key never join, like the frame's equi-joins. */
  private def expandTopKLocal(e0: DataFrame, visited: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    import Similarity.{beatsLocal => beats}
    @inline def norm0(s: Double): Double = if (s == 0.0d) 0.0d else s
    val vRows = visited.select("qid", "node", "sc").collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toArray
    val eRows = e0.select("vec_id", "embedding").collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
    // top-K canonical node ids per qid
    val topIds: Map[Long, Set[Long]] = vRows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(r => (norm0(r._3), r._2))
        .sortWith((a, b) => beats(a._1, a._2, b._1, b._2)).take(K)
        .map(_._2).toSet
    }
    val topCanon = vRows.filter(r => topIds.get(r._1).exists(_.contains(r._2)))
    val allTop: Set[Long] = topCanon.iterator.map(_._2).toSet
    val candEmbByNode = eRows.iterator.filter(r => allTop(r._1)).toArray
      .groupBy(_._1)
    // (qid, sc, cemb) with ONE row per (qid, normalized cemb)
    val seen = scala.collection.mutable.HashSet.empty[(Long, IndexedSeq[Int])]
    val cands = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, IndexedSeq[Int])]
    topCanon.foreach { case (q, n, sc) =>
      candEmbByNode.getOrElse(n, Array.empty[(Long, Array[Float])])
        .foreach { case (_, ce) =>
          val k = embKey(ce)
          if (seen.add((q, k))) cands += ((q, sc, k))
        }
    }
    // replica expansion: every e0 row whose embedding normalized-equals
    // a kept cemb, then the per-qid top-K over (sc, vec_id)
    val e0ByKey = eRows.groupBy(r => embKey(r._2))
    val perQ = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Double, Long)]]
    cands.foreach { case (q, sc, k) =>
      e0ByKey.getOrElse(k, Array.empty[(Long, Array[Float])]).foreach { case (id, _) =>
        perQ.getOrElseUpdate(q,
          scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]) +=
          ((norm0(sc), id))
      }
    }
    val out = perQ.iterator.flatMap { case (q, cs) =>
      cs.sortWith((a, b) => beats(a._1, a._2, b._1, b._2)).take(K)
        .iterator.zipWithIndex.map { case ((_, id), pos) => (q, pos + 1, id) }
    }.toSeq
    out.toDF("qid", "rank", "neighbor").coalesce(graft.Sliver.localParts(spark, out.size))
  }

  /** The declarative frame reporter — the above-gate path. */
  private[operators] def expandTopKFrames(e0: DataFrame, visited: DataFrame): DataFrame = {
    // both reporter joins carry (queries × K)-bounded frames — BROADCAST
    // them explicitly: size estimates on checkpoint-backed plans pushed
    // both to SortMergeJoin (4 exchanges + 4 sorts of request-sized
    // frames in the captured r16 plan; guide §3.1). The semi-join form
    // of the top-K restriction is row-identical to the inner join (topK
    // ids are distinct per qid and drawn FROM visited).
    val topIds = visited.groupBy("qid")
      .agg(TopK.topKByScore(col("sc"), col("node"), K).as("nbrs"))
      .select(col("qid"), explode(col("nbrs")).as("node"))
    val topCanon = visited.join(broadcast(topIds), Seq("qid", "node"), "left_semi")
    val candEmb = e0.select(col("vec_id").as("node"), col("embedding").as("cemb"))
      .join(broadcast(topCanon.select("node").distinct()), Seq("node"))
    // dedup on (qid, cemb): two graph nodes CAN carry identical
    // embeddings (insertBatch collapses only the pre-existing corpus, so
    // a batch vector duplicating a corpus vector becomes a second node
    // for the same embedding), and both can land in the top-K — without
    // the dedup every replica row would join BOTH cands rows and one
    // neighbor could occupy two of the K ranks. Scores of the duplicate
    // rows are equal by construction (same embedding ⇒ same cosine), so
    // dropping either is value-stable.
    val cands = topCanon.join(broadcast(candEmb), Seq("node"))
      .select(col("qid"), col("sc"), col("cemb"))
      .dropDuplicates("qid", "cemb")
    e0.join(broadcast(cands), col("embedding") === col("cemb"))
      .groupBy("qid")
      .agg(TopK.topKByScore(col("sc"), col("vec_id"), K).as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "neighbor")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("neighbor"))
  }

  /** Target visited-frame rows per task of the frame walk's per-hop
    * coalesce — the partition count follows (queries × ef × hops), not
    * a constant (the r17 literal `coalesce(16)` serialized the beam
    * scoring onto 16 tasks at ANY scale; now 1M queries × ef=16 caps at
    * defaultParallelism while bench-scale frames stay at 1 task). */
  val VisitedRowsPerTask = 65536L

  /** The beam search's VISITED set — (qid, node, sc) for every node the
    * descent + layer-0 beam touched, scored once on arrival. The read
    * path reports its top-[[K]]; the incremental insert uses it as the
    * layer-0 candidate pool for a new node's links (HNSW's own insert
    * primitive: insert(v) = search the existing graph with v, then link
    * to the best of what the search saw). `ef`/`beamHops` are the
    * serving knobs (defaults [[Ef]]/[[BeamHops]]; s24 publishes their
    * recall-cost curve).
    *
    * Cache ownership: the adjacency is checkpointed only if the CALLER
    * has not already cached/checkpointed it, and — since every frame
    * this returns is localCheckpoint-backed by construction — any cache
    * taken here is released before returning; abandoned per-hop
    * checkpoints are released as the loops advance, so a long shared
    * session accrues no cached generations (one checkpointed visited
    * frame per call is the entire residue, and it is the return
    * value). */
  private[operators] def visitedFrame(e0: DataFrame, adjAll: DataFrame,
      queries: DataFrame, ef: Int = Ef, beamHops: Int = BeamHops): DataFrame = {
    // The adjacency must enter the loops CHECKPOINT-BACKED, not as a
    // lazy (even persisted) plan: every per-hop localCheckpoint rewrites
    // its LogicalRDD stats from the CHILD PLAN's stats (Spark's
    // rewriteStatsAndConstraints), and a lazy adjacency embeds the whole
    // build tree in every hop — its self-join sizeInBytes products feed
    // back through each hop's checkpoint, so the stat DOUBLES ITS DIGIT
    // COUNT per hop and by hop ~25 the driver grinds on million-digit
    // BigInteger multiplies (measured: a ~90 s read became a >50 min
    // hang). A checkpoint truncates both the lineage and the stats —
    // and ONLY a checkpoint does: a merely-persisted frame keeps its
    // full logical plan and its stats, so persistence alone must NOT
    // skip the checkpoint here (it would reinstate the feedback).
    val preOwned = adjAll.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val adj = if (preOwned) adjAll else adjAll.localCheckpoint()
    // route by MEASURED adjacency size (one count over the checkpoint):
    // the local walk turns ~90 scheduler round-trips per read into zero.
    // Long-keyed frames only — other id types keep the frame path.
    val longKeyed = Seq("node", "nbr").forall(c =>
        adj.schema(c).dataType == org.apache.spark.sql.types.LongType) &&
      queries.schema("qid").dataType == org.apache.spark.sql.types.LongType
    val out =
      if (longKeyed && graft.Sliver.fits("hnsw.walk", adj.sparkSession)(
          () => graft.Sliver.bytes(adj)))
        localWalkVisited(e0, adj, queries, ef, beamHops)
      else frameVisited(e0, adj, queries, ef, beamHops)
    if (!preOwned) graft.Checkpoints.release(adj)
    out
  }

  /** The broadcast-local read walk: collect the (size-gated) adjacency
    * and the request-sized query batch once, run the EXACT descent +
    * beam recurrence of [[frameVisited]] in one driver-side pass, and
    * return the visited set as a local relation. Semantics are
    * replicated bit-for-bit (spec-pinned equivalent on the real corpus):
    * the same double-accumulated cosine ([[graft.functions.CosineSimilarity]]'s
    * loop, float inputs, zero-norm ⇒ 0.0), the same greedy argmax tie
    * order (score, then LOWER node id), the same per-hop candidate
    * dedup/anti-join, the same top-ef beam order ([[TopKBuffer]]'s:
    * score desc, id asc), the same hop caps, the same fixed points. A
    * per-query walk equals the global-loop frame walk because a query
    * whose hop adds no candidate is at ITS fixed point — further global
    * hops cannot change its beam (max of an unchanged set) or visited
    * set, so per-query early exit is the same termination the global
    * count test reaches.
    *
    * This is guide §1.2 step 1 applied to the profiled bottleneck: the
    * r17 phase decomposition showed the read is driver-ACTION-bound
    * (~90 fixed-overhead jobs of a few ms of work each — scheduler
    * round-trips, not data). The walk's data is (queries × ef × hops)
    * rows against an adjacency that fits a broadcast budget; one
    * collect + one local relation replaces every per-hop job. On a
    * cluster the same shape holds: an index under the gate is
    * broadcast-sized BY DEFINITION, and the serving tier that owns it
    * walks it in memory (hnswlib's own read is exactly this); the
    * corpus-sized regime stays on the frame walk. */
  private def localWalkVisited(e0: DataFrame, adj: DataFrame,
      queries: DataFrame, ef: Int, beamHops: Int): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    // deterministic entry point — the same expression the frame walk
    // evaluates (max layer, min node, embedding attached from e0)
    val entryRows = broadcast(adj.select(col("layer"), col("node"))
        .orderBy(col("layer").desc, col("node").asc).limit(1))
      .join(e0.select(col("vec_id").as("node"), col("embedding").as("nemb")),
        Seq("node"))
      .select("node", "nemb").collect()
    val qRows = queries.select(col("qid"), col("qemb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (entryRows.isEmpty || qRows.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("qid", "node", "sc")
    val entryNode = entryRows.head.getLong(0)
    val entryEmb = entryRows.head.getSeq[Float](1).toArray
    // adjacency → per-layer neighbor lists (node → [(nbr, nemb)])
    val byLayer = Array.fill(MaxLevel + 1)(
      new scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]())
    adj.select(col("layer").cast("int"), col("node"), col("nbr"), col("nemb"))
      .collect().foreach { r =>
        byLayer(r.getInt(0)).getOrElseUpdate(r.getLong(1),
          new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]())
          .append((r.getLong(2), r.getSeq[Float](3).toArray))
      }
    // CosineSimilarity's exact loop; (score desc, id asc) — TopKBuffer.beats
    // / max_by(struct(sc, -node))
    import Similarity.{beatsLocal => beats, cosLocal => cos}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    qRows.foreach { case (qid, qemb) =>
      // greedy descent through the upper layers, beam width 1, to each
      // layer's fixed point (cap DescentHops) — argmax over the current
      // node ∪ its layer-l neighbors, ties to the lower id
      var bestNode = entryNode
      var bestSc = cos(qemb, entryEmb)
      var l = MaxLevel
      while (l >= 1) {
        val adjL = byLayer(l)
        var hop = 0
        var moved = true
        while (hop < DescentHops && moved) {
          moved = false
          adjL.get(bestNode).foreach(_.foreach { case (nid, nemb) =>
            val sc = cos(qemb, nemb)
            if (beats(sc, nid, bestSc, bestNode)) {
              bestNode = nid; bestSc = sc; moved = true
            }
          })
          hop += 1
        }
        l -= 1
      }
      // layer-0 beam search: expand the beam's unvisited neighbors,
      // score once on arrival, keep top-ef of VISITED; stop when a hop
      // adds nothing (cap beamHops)
      val adj0 = byLayer(0)
      val visited = scala.collection.mutable.HashMap[Long, Double](bestNode -> bestSc)
      var beam = Array(bestNode)
      var hop = 0
      var exhausted = false
      while (hop < beamHops && !exhausted) {
        val cand = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
        beam.foreach { bn =>
          adj0.get(bn).foreach(_.foreach { case (nid, nemb) =>
            if (!visited.contains(nid)) cand(nid) = nemb
          })
        }
        if (cand.isEmpty) exhausted = true
        else {
          cand.foreach { case (nid, nemb) => visited(nid) = cos(qemb, nemb) }
          beam = visited.toArray
            .sortWith((a, b) => beats(a._2, a._1, b._2, b._1))
            .take(ef).map(_._1)
        }
        hop += 1
      }
      visited.foreach { case (node, sc) => out.append((qid, node, sc)) }
    }
    out.toSeq.toDF("qid", "node", "sc")
  }

  /** The iterative (corpus-scale) read walk: per-hop frames, each hop
    * ONE driver action (the materializing count doubles as the
    * convergence probe — Shim.localCheckpointWithCount). */
  private def frameVisited(e0: DataFrame, adj: DataFrame,
      queries: DataFrame, ef: Int, beamHops: Int): DataFrame = {
    val qs = queries.localCheckpoint()
    // deterministic entry point: max layer, then min node — read off the
    // ADJACENCY (a node's top layer IS its id-hash level), so the entry
    // is always a graph node even when e0 carries replicas or survivors
    // of a delete; its embedding attaches by one broadcast-sized join
    val entry = broadcast(adj.select(col("layer"), col("node"))
        .orderBy(col("layer").desc, col("node").asc).limit(1))
      .join(e0.select(col("vec_id").as("node"), col("embedding").as("nemb")),
        Seq("node"))
      .select("node", "nemb")
    // visited frames carry (qid, node, score_micro-ish double) — scored
    // once on arrival, never re-scored
    def scored(cand: DataFrame): DataFrame =
      cand.join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("node"), V.cosine(col("qemb"), col("nemb")).as("sc"))
    var beam = scored(qs.select(col("qid")).crossJoin(entry))
      .localCheckpoint()
    // descent: per upper layer, greedy (beam-1) hops to a FIXED POINT —
    // stop once no query's best node moved (cap DescentHops).
    // NOTE (r17, measured): composing k hops into one lazy plan between
    // driver actions ("hop batching") was tried and is a LOSS — each
    // in-plan hop references its predecessor ~3×, and exchange reuse
    // does not deduplicate the copies under AQE, so executed work grows
    // ~3^k per batch (s21 sf0.1 min-of-3: 13.3 s per-hop, 19.4 s at
    // k=2, 33.5 s at k=4). The per-hop checkpoint is the cheapest
    // correct granularity; driver actions are NOT the dominant term.
    for (l <- MaxLevel to 1 by -1) {
      val adjL = adj.filter(col("layer") === l)
      var hop = 0
      var converged = false
      while (hop < DescentHops && !converged) {
        // frontier is (queries × beam)-sized: BROADCAST it against the
        // persisted adjacency — the corpus side is streamed, never shuffled
        val cand = adjL
          .join(broadcast(beam.select("qid", "node")), Seq("node"))
          .select(col("qid"), col("nbr").as("node"), col("nemb"))
        val prev = beam
        val prevIds = prev.select(col("qid"), col("node").as("pnode"))
        // the convergence probe rides the SAME job that materializes the
        // hop (r17 paid a separate isEmpty join-job per hop): the moved
        // flag joins in-plan against the previous beam and the stepped
        // frame checkpoints through the counting helper — moved == 0 rows
        // ⇒ no query's best node changed ⇒ fixed point
        val stepped = scored(cand).unionByName(prev)
          .groupBy("qid")
          .agg(max_by(struct(col("sc"), col("node")), struct(col("sc"), -col("node"))).as("b"))
          .select(col("qid"), col("b.node").as("node"), col("b.sc").as("sc"))
          .join(broadcast(prevIds), Seq("qid"))
        val (ck, movedN) = Shim.localCheckpointCounting(stepped,
          col("node") =!= col("pnode"))
        beam = ck.select("qid", "node", "sc")
        converged = movedN == 0
        graft.Checkpoints.release(prev)
        hop += 1
      }
    }
    // layer-0 beam search: expand, score, keep top-ef of VISITED; stop
    // once a hop adds no unvisited node (the beam's whole neighborhood
    // is explored — the fixed point; cap beamHops)
    val adj0 = adj.filter(col("layer") === 0)
    val defPar = adj.sparkSession.sparkContext.defaultParallelism
    var visited = beam
    var visCount = visited.count()
    var exhausted = false
    var hop = 0
    while (hop < beamHops && !exhausted) {
      val cand = adj0.join(broadcast(beam.select("qid", "node")), Seq("node"))
        .select(col("qid"), col("nbr").as("node"), col("nemb"))
        .join(visited.select(col("qid"), col("node")), Seq("qid", "node"), "left_anti")
        .dropDuplicates("qid", "node")
      val prev = visited
      // coalesce before the checkpoint: the union is shuffle-free, so
      // without it each hop ADDS its candidate scan's partitions to the
      // visited frame — by hop 30 every tiny job schedules thousands of
      // near-empty tasks (measured: the 200k-corpus read ground to
      // ~minutes per hop on scheduling overhead alone). The count
      // FOLLOWS the frame (≈ visCount + queries × ef × M next rows at
      // [[VisitedRowsPerTask]] per task, capped at defaultParallelism),
      // never a literal: the r17 `coalesce(16)` pinned beam scoring to
      // 16 tasks at 1000-executor scale.
      val parts = math.max(1L, math.min(defPar.toLong,
        visCount / VisitedRowsPerTask + 1L)).toInt
      // the materializing checkpoint IS the convergence count (one job
      // per hop; the r17 form paid checkpoint + count separately)
      val (ck, after) = Shim.localCheckpointWithCount(
        visited.unionByName(scored(cand)).coalesce(parts))
      visited = ck
      exhausted = after == visCount
      visCount = after
      // (qid, node) only — re-attaching sc via a join back to visited
      // would SQUARE the checkpoint-stat feedback each hop (every
      // localCheckpoint rewrites stats from its child plan; a visited
      // self-join makes the sizeInBytes digit count double per hop and
      // the driver ends up multiplying million-digit BigIntegers —
      // measured as a >50 min planning hang by hop ~25)
      beam = visited
        .groupBy("qid")
        .agg(TopK.topKByScore(col("sc"), col("node"), ef).as("nbrs"))
        .select(col("qid"), explode(col("nbrs")).as("node"))
      // prev (the previous visited checkpoint — on the first hop, the
      // final descent beam) is now referenced by nothing: the new
      // visited materialized from it and beam re-points at the new one
      graft.Checkpoints.release(prev)
      hop += 1
    }
    graft.Checkpoints.release(qs)
    visited
  }

  /** s21: HNSW-shape ANN top-[[K]] for the s15 external query batch —
    * build the layered graph over the store, then beam-search it.
    * Engine-defined graph ⇒ spec class (recall pinned vs the s15
    * brute-force truth, build determinism, degree bounds); the driver
    * records rows-only. */
  def s21HnswTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    searchFrame(e, buildAdjacency(e), Similarity.externalQueries(s, dir))
  }

  // ---- s22: incremental insert — the reference's actual index lifecycle ----

  /** Number of vectors in the planted arriving batch. */
  val InsertBatchSize = 16

  /** Id offset of the arriving batch (disjoint from every corpus id). */
  val InsertIdBase = 200000L

  /** The planted ARRIVING batch: [[InsertBatchSize]] new vectors, each
    * the 1:3 blend (a + 3·b)/4 of corpus embeddings 2i and 2i+1 — the
    * REVERSED weights of [[Similarity.externalQueries]]'s 3:1, so batch
    * vectors are near real corpus mass but identical to neither an
    * existing vector nor a query (the same double-exact float32
    * rounding discipline). Deterministic ⇒ the insert twins stay
    * rebuild-deterministic end-to-end. */
  def insertionBatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val a = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2L * InsertBatchSize)
      .select((col("vec_id") / 2).cast("long").as("i"), col("embedding").as("ea"))
    val b = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 2L * InsertBatchSize)
      .select(((col("vec_id") - 1) / 2).cast("long").as("i"), col("embedding").as("eb"))
    a.join(b, Seq("i"))
      .select((col("i") + InsertIdBase).as("vec_id"),
        zip_with(col("ea"), col("eb"), (x, y) =>
          ((x.cast("double") + lit(3.0) * y.cast("double")) / lit(4.0)).cast("float"))
          .as("embedding"))
  }

  /** INCREMENTAL INSERT — the reference's real index lifecycle
    * (customTrainDataController.js:28-86 EXTENDS the hnswlib index as
    * documents arrive; it never rebuilds): fold an arriving (vec_id,
    * embedding) batch into an existing adjacency without touching the
    * unaffected graph. The d24/m5 incremental-twin shape, applied to
    * the graph index:
    *
    *   1. **Layer-0 candidates by search** (HNSW's own insert move):
    *      beam-search the EXISTING graph with each new vector —
    *      [[visitedFrame]], the identical machinery the read path uses
    *      — plus the within-batch exact pairs (batch², batch-sized).
    *      New node links = top-[[M]] of that candidate pool.
    *   2. **Upper-layer links exactly** (a new node's id-hash level is
    *      the same pure function [[levelCol]] the build uses): a
    *      level-l newcomer scores against ALL layer-l members — the
    *      thin layers, n/8^l — with the batch side broadcast, so the
    *      member side streams.
    *   3. **Bidirectional repair**: every new link (l, n→v) plants the
    *      back-link (l, v→n); ONLY the touched (layer, node) lists are
    *      re-trimmed to cosine top-[[M]] (rescored exactly — scores are
    *      pure functions of the two embeddings), everything untouched
    *      passes through by anti-join. Repair cost is
    *      O(batch × M × degree), never corpus-shaped.
    *   4. **Connectivity pin** (Malkov-Yashunin Alg. 4's
    *      keepPrunedConnections, as a deterministic rule): a newcomer
    *      whose every back-link loses the re-trim has layer-0 in-degree
    *      0 — unreachable forever (measured: 1 of 16 planted inserts).
    *      The back-link from each new node's single BEST existing
    *      neighbor is therefore pinned through that neighbor's re-trim
    *      (it outranks any unpinned candidate; within pins, cosine then
    *      id order), so every inserted vector keeps ≥ 1 in-link from
    *      the old graph and is findable whenever its nearest existing
    *      neighbor is visited — which a query near the new vector is
    *      exactly the search that visits it.
    *
    * The result is a valid adjacency of the SAME shape buildAdjacency
    * emits — searchFrame reads it unchanged. Like every incremental
    * HNSW, the graph drifts from the from-scratch rebuild (an old
    * node's list only changes if a newcomer beats its current worst);
    * the spec pins what matters: twin equality (persisted-index path ≡
    * one-shot), self-findability of every inserted vector, degree
    * bounds, determinism, and read recall over the updated graph. */
  def insertBatch(e0: DataFrame, adj: DataFrame, batch: DataFrame): DataFrame = {
    // the graph indexes DISTINCT vectors: all membership scoring and
    // repair runs over the canonical corpus (an arriving batch is
    // assumed pre-collapsed — the st5/d9 dedup screen is the ingest
    // gate that guarantees it)
    val dist = distinctCorpus(e0)
    val b = batch.withColumn("lvl", levelCol(col("vec_id"))).localCheckpoint()
    // 1. layer-0 candidates: beam-search visited ∪ within-batch pairs
    val visited = visitedFrame(e0, adj,
      b.select(col("vec_id").as("qid"), col("embedding").as("qemb")))
    val bb = b.select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      .join(b.select(col("vec_id").as("node"), col("embedding").as("nemb")),
        col("qid") =!= col("node"))
      .select(col("qid"), col("node"), V.cosine(col("qemb"), col("nemb")).as("sc"))
    val links0 = visited.unionByName(bb)
      .groupBy("qid")
      .agg(TopK.topKByScore(col("sc"), col("node"), M).as("nbrs"))
      .select(lit(0).as("layer"), col("qid").as("node"), explode(col("nbrs")).as("nbr"))
    // 2. upper layers: exact against the (thin) layer membership
    val upperLinks = (1 to MaxLevel).map { l =>
      val exMembers = dist.withColumn("lvl", levelCol(col("vec_id")))
        .filter(col("lvl") >= l)
        .select(col("vec_id").as("mid"), col("embedding").as("memb"))
      val bMembers = b.filter(col("lvl") >= l)
        .select(col("vec_id").as("mid"), col("embedding").as("memb"))
      val newAtL = b.filter(col("lvl") >= l).select("vec_id", "embedding")
      exMembers.unionByName(bMembers)
        .join(broadcast(newAtL), col("vec_id") =!= col("mid"))
        .groupBy("vec_id")
        .agg(TopK.topKByScore(V.cosine(col("embedding"), col("memb")), col("mid"), M)
          .as("nbrs"))
        .select(lit(l).as("layer"), col("vec_id").as("node"),
          explode(col("nbrs")).as("nbr"))
    }.reduce(_ unionByName _)
    val newLinks = links0.unionByName(upperLinks)
    // 3 + 4. back-links, connectivity pins, bounded repair of ONLY the
    // touched lists. The pin: each new node's best EXISTING candidate
    // (top-1 of its beam-visited pool, ties by id asc) must keep the
    // back-link to it. Expressed as a rank override in the top-M cut:
    // pinned candidates score cosine + 4 (cosine ∈ [-1, 1], so every
    // pin outranks every unpinned candidate and pins order among
    // themselves by true cosine then id — deterministic).
    //
    // Pins are CAPACITY-BOUNDED per target node: a pinned list is still
    // cut at M, so if one existing node is the best-existing-neighbor
    // of MORE than M batch vectors (a clustered arrival batch — spam
    // bursts are exactly this shape), the overflow inserts' pins would
    // silently lose the re-trim — the failure the pin exists to
    // prevent. Assignment is a deterministic capacity-respecting
    // cascade over each insert's ranked candidate pool: round r, every
    // still-unplaced insert proposes its rank-r candidate; per target
    // node, proposals are accepted in (cosine desc, qid asc) order up
    // to the node's remaining capacity M − already-accepted. A node
    // that rejects a proposal is full — re-proposing it later is
    // pointless, so rejected inserts fall through to their next rank.
    // Rounds are bounded by the pool depth (≤ 1 + ef·beamHops rows per
    // insert); an insert whose ENTIRE pool fills up fails LOUDLY
    // (require) instead of silently becoming an unreachable newcomer.
    // All frames are batch-sized — the cascade never touches the corpus.
    val back = newLinks.select(col("layer"), col("nbr").as("node"), col("node").as("nbr"))
    import org.apache.spark.sql.expressions.Window
    val ranked = visited.withColumn("r", row_number().over(
        Window.partitionBy("qid").orderBy(col("sc").desc, col("node").asc)))
      .localCheckpoint()
    val capW = Window.partitionBy("node").orderBy(col("sc").desc, col("qid").asc)
    val maxRRow = ranked.agg(max(col("r"))).head()
    val maxR = if (maxRRow.isNullAt(0)) 0 else maxRRow.getInt(0)
    var unplaced = ranked.filter(col("r") === 1).select("qid").localCheckpoint()
    var accepted = List.empty[DataFrame]
    var round = 1
    while (round <= maxR && !unplaced.isEmpty) {
      val props = ranked.join(unplaced, Seq("qid"), "left_semi")
        .filter(col("r") === round)
      val withUsed = accepted match {
        case Nil => props.withColumn("used", lit(0L))
        case fs => props.join(fs.reduce(_ unionByName _)
            .groupBy("node").agg(count(lit(1)).as("used")), Seq("node"), "left")
          .na.fill(0L, Seq("used"))
      }
      val taken = withUsed.withColumn("j", row_number().over(capW))
        .filter(col("j") + col("used") <= M)
        .select("qid", "node").localCheckpoint()
      accepted ::= taken
      val prevUnplaced = unplaced
      unplaced = unplaced.join(taken, Seq("qid"), "left_anti").localCheckpoint()
      graft.Checkpoints.release(prevUnplaced)
      round += 1
    }
    require(unplaced.isEmpty,
      s"connectivity pins unplaced for ${unplaced.count()} insert(s): their " +
        "entire candidate pools are at pin capacity — split the arriving batch")
    val pinPairs = accepted match {
      case Nil => ranked.filter(col("r") === 1).select("qid", "node") // empty batch
      case fs => fs.reduce(_ unionByName _)
    }
    val pins = pinPairs
      .select(lit(0).as("layer"), col("node"), col("qid").as("nbr"), lit(1).as("pin"))
    val touched = newLinks.select("layer", "node")
      .unionByName(back.select("layer", "node"))
      .unionByName(pins.select("layer", "node")).distinct().localCheckpoint()
    val union = dist.unionByName(batch.select("vec_id", "embedding"))
    val affected = adj.select("layer", "node", "nbr")
      .join(touched, Seq("layer", "node"), "left_semi")
      .unionByName(newLinks).unionByName(back)
      .withColumn("pin", lit(0)).unionByName(pins)
      .groupBy("layer", "node", "nbr").agg(max(col("pin")).as("pin"))
    val retrimmed = affected
      .join(union.select(col("vec_id").as("node"), col("embedding").as("emb_n")), Seq("node"))
      .join(union.select(col("vec_id").as("nbr"), col("embedding").as("nemb")), Seq("nbr"))
      .groupBy("layer", "node")
      .agg(TopK.topKByScore(
        V.cosine(col("emb_n"), col("nemb")) + col("pin").cast("double") * 4.0,
        col("nbr"), M).as("nbrs"))
      .select(col("layer"), col("node"), explode(col("nbrs")).as("nbr"))
      .join(union.select(col("vec_id").as("nbr"), col("embedding").as("nemb")), Seq("nbr"))
      .select("layer", "node", "nbr", "nemb")
    adj.select("layer", "node", "nbr", "nemb")
      .join(touched, Seq("layer", "node"), "left_anti")
      .unionByName(retrimmed)
  }

  /** Store-write half of the s22 twins: persist the built adjacency —
    * the d24IndexWrite move for the graph index. */
  def indexWrite(s: SparkSession, dir: String, path: String): Unit =
    buildAdjacency(Tables.embeddings(s, dir).select("vec_id", "embedding"))
      .write.mode("overwrite").parquet(path)

  /** Deployment twin: insert the arriving batch into the adjacency AS
    * PERSISTED by [[indexWrite]], then serve the external queries over
    * the updated graph — spec-asserted identical to the one-shot
    * [[s22HnswInsert]]. */
  def s22FromPersisted(s: SparkSession, dir: String, path: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val batch = insertionBatch(s, dir)
    withCachedAdj(s.read.parquet(path)) { adj =>
      searchFrame(e.unionByName(batch), insertBatch(e, adj, batch),
        Similarity.externalQueries(s, dir))
    }
  }

  /** Persist an adjacency generation for the duration of `body`, then
    * release it. Safe because every frame the search/insert machinery
    * returns is localCheckpoint-backed before `body` returns — the
    * caller's result never re-reads the cache. Closes the r14 leak
    * where adjacency generations stayed MEMORY_AND_DISK for the life
    * of a shared session (two per s22 run). */
  private def withCachedAdj[A](adjacency: DataFrame)(body: DataFrame => A): A = {
    // localCheckpoint, not persist: a persisted frame keeps its full
    // build tree as the LOGICAL plan, which both re-plans per hop and
    // feeds exploding sizeInBytes stats into every downstream
    // checkpoint (see visitedFrame); the checkpoint is eager, so the
    // generation is also fully materialized before the reads start
    val adj = adjacency.localCheckpoint()
    try body(adj) finally graft.Checkpoints.release(adj)
  }

  /** s22: the registered one-shot — build, insert the arriving batch,
    * serve the s15 external queries over the UPDATED graph (new nodes
    * are live candidates). Engine-defined graph ⇒ spec class like s21;
    * the driver records rows-only. The OLD adjacency generation is
    * cached for the run (the insert's beam search AND the bounded
    * repair both probe it) and released on exit; the updated generation
    * lives only inside the final searchFrame's own cache window. */
  def s22HnswInsert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val batch = insertionBatch(s, dir)
    withCachedAdj(buildAdjacency(e)) { adj =>
      searchFrame(e.unionByName(batch), insertBatch(e, adj, batch),
        Similarity.externalQueries(s, dir))
    }
  }

  // ---- s23: graph-index DELETE — the index lifecycle's last verb ----

  /** The planted doomed set: the same id stride the vector store's v5
    * delete uses (embeddingController.js:99-110 deleteEmbeddings — the
    * reference deletes vectors by id; the graph index must stop serving
    * them). ~39 of the corpus ids, including vec_id 0 — which is a
    * candidate ENTRY point, so the delete also exercises entry
    * re-selection from the survivors. */
  def deleteIds: Seq[Long] = Similarity.DeleteIds

  /** Delete a doomed id set from a layered adjacency — hnswlib's
    * markDelete + repair, as one bounded declarative pass. `doomed`
    * must carry (vec_id, embedding) — the embedding drives the rename
    * step below.
    *
    *   0. **Re-canonicalize**: a doomed id can be the CANONICAL of a
    *      duplicate-embedding family whose OTHER replicas survive (the
    *      collapse-first build indexes min vec_id per distinct
    *      embedding). Masking such a node would strand its surviving
    *      replicas — the read's re-expansion can only reach them
    *      through the graph node — so the node is RENAMED to the
    *      family's new min surviving id instead (same embedding, so
    *      every list and score is unchanged); only ids whose whole
    *      family is doomed proceed to the mask. The rename map is
    *      request-sized (≤ |doomed| rows) and broadcasts; survivors
    *      stream once.
    *   1. **Mask**: anti-join doomed ids out of BOTH sides of every
    *      list (a doomed node keeps no list; no surviving list points
    *      at a doomed id — a serving tier never returns a deleted
    *      vector, v5's contract applied to the graph).
    *   2. **Bridge**: a survivor that lost a link to deleted node d
    *      gains d's own surviving out-neighbors as candidates (the
    *      in × out bridge through the hole — hnswlib's repair move),
    *      per layer, by one equi-join on (layer, dnode): candidate
    *      volume ≤ deleted × M², never corpus-shaped.
    *   3. **Bounded re-trim**: ONLY the lists that lost a link re-rank
    *      (surviving remainder ∪ bridge, exact cosine top-[[M]] — the
    *      s22 repair discipline); everything untouched passes through
    *      by anti-join, bit-identical.
    *
    * The doomed side broadcasts (a delete call is request-sized); the
    * adjacency streams. Like any masked HNSW, a pathological node whose
    * ENTIRE list was doomed with no surviving bridge drops its list —
    * recall over survivors is what the spec pins.
    *
    * Routing (r18, guide §1.2 step 1 — the [[localWalkVisited]]
    * discipline applied to the delete): when [[graft.Sliver]] admits
    * the adjacency and survivors, the whole rename→mask→bridge→re-trim
    * pass runs driver-side over the collected slivers
    * ([[deleteLocal]], spec-pinned bit-identical); otherwise this
    * declarative frame pass stands unchanged — the only shape that
    * works when the adjacency is corpus-sized. ProbeS23S24 measured
    * the frame pass at 3.2–6.7 s of fixed stage overhead for a
    * 13.5k-row adjacency and 39 doomed ids — ~15 stages of scheduler
    * round-trips for microseconds of arithmetic. */
  def deleteFromAdjacency(survivors: DataFrame, adj: DataFrame,
      doomed: DataFrame): DataFrame = {
    val lt = org.apache.spark.sql.types.LongType
    val typesOk =
      adj.schema("node").dataType == lt && adj.schema("nbr").dataType == lt &&
        adj.schema("layer").dataType == org.apache.spark.sql.types.IntegerType &&
        isFloatArray(adj.schema("nemb").dataType) &&
        survivors.schema("vec_id").dataType == lt &&
        isFloatArray(survivors.schema("embedding").dataType) &&
        doomed.schema("vec_id").dataType == lt &&
        isFloatArray(doomed.schema("embedding").dataType)
    // survivors are only counted once the adjacency fits (a
    // corpus-sized graph never pays the survivor scan)
    if (typesOk && graft.Sliver.fits("hnsw.delete", adj.sparkSession)(
        () => graft.Sliver.bytes(adj), () => graft.Sliver.bytes(survivors)))
      deleteLocal(survivors, adj, doomed)
    else deleteFrames(survivors, adj, doomed)
  }

  /** Driver-local replication of [[deleteFrames]] — bit-identical by
    * construction (HnswDeleteEquivalenceSpec pins it on the real corpus
    * and the rename/bridge fixtures):
    *   - the rename join's embedding equality is Spark's normalized
    *     float-array equality (-0.0 == 0.0, NaN == NaN; null keys never
    *     match) — replicated via normalized-bits keys;
    *   - re-trim scores are [[Similarity.cosLocal]] (the proven
    *     CosineSimilarity replication) with TopKBuffer's exact order
    *     (score desc via Double.compare with -0.0 normalized, id asc);
    *   - one candidate row per (layer, node, nbr) like dropDuplicates
    *     (nemb is functionally determined by nbr, and the re-trim
    *     re-attaches it from the survivor's own embedding);
    *   - masked-row multiplicity and the inner emb joins' drop-if-absent
    *     behavior are preserved. Assumes vec_id is unique in `survivors`
    *     (the store's key contract — the frame joins assume it too). */
  private def deleteLocal(survivors: DataFrame, adj: DataFrame,
      doomed: DataFrame): DataFrame = {
    val spark = adj.sparkSession
    import spark.implicits._
    def arr(r: org.apache.spark.sql.Row, i: Int): Array[Float] =
      if (r.isNullAt(i)) null else r.getSeq[Float](i).toArray
    val aRows = adj.select("layer", "node", "nbr", "nemb").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), arr(r, 3)))
    val survRows = survivors.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), arr(r, 1)))
    val doomRows = doomed.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), arr(r, 1)))
    // 0. rename: doomed id → min surviving id with the SAME embedding
    val survByEmb = scala.collection.mutable.HashMap.empty[IndexedSeq[Int], Long]
    survRows.foreach { case (id, e) =>
      if (e != null) {
        val k = embKey(e)
        if (survByEmb.get(k).forall(_ > id)) survByEmb(k) = id
      }
    }
    val rn = scala.collection.mutable.HashMap.empty[Long, Long]
    doomRows.foreach { case (old, e) =>
      if (e != null) survByEmb.get(embKey(e)).foreach { m =>
        if (rn.get(old).forall(_ > m)) rn(old) = m
      }
    }
    // ids still doomed after the rename: their entire family is deleted
    val dIds: Set[Long] =
      doomRows.iterator.map(_._1).filterNot(rn.contains).toSet
    def ren(id: Long): Long = rn.getOrElse(id, id)
    val adjR = aRows.map { case (l, n, b, e) => (l, ren(n), ren(b), e) }
    // 1. mask
    val masked = adjR.filter { case (_, n, b, _) => !dIds(n) && !dIds(b) }
    // surviving lists that pointed at a doomed id — the repair set
    val inL = adjR.filter { case (_, n, b, _) => dIds(b) && !dIds(n) }
    val affected: Set[(Int, Long)] =
      inL.iterator.map { case (l, n, _, _) => (l, n) }.toSet
    // 2. bridge: in × out through the hole, per (layer, dnode)
    val outByLD = adjR.filter { case (_, n, b, _) => dIds(n) && !dIds(b) }
      .groupBy { case (l, n, _, _) => (l, n) }
    val bridge = inL.iterator.flatMap { case (l, n, d, _) =>
      outByLD.getOrElse((l, d), Array.empty[(Int, Long, Long, Array[Float])])
        .iterator.collect { case (_, _, b, e) if n != b => (l, n, b, e) }
    }
    // 3. bounded re-trim: one candidate per (layer, node, nbr)
    val candSeen = scala.collection.mutable.HashSet.empty[(Int, Long, Long)]
    val cands = (masked.iterator.filter(r => affected((r._1, r._2))) ++ bridge)
      .filter { case (l, n, b, _) => candSeen.add((l, n, b)) }.toArray
    val survEmb: Map[Long, Array[Float]] = survRows.toMap
    import Similarity.{beatsLocal => beats}
    val retrim = cands.groupBy(r => (r._1, r._2)).iterator.flatMap {
      case ((layer, node), rs) =>
        val en = survEmb.get(node).orNull
        if (en == null) Iterator.empty // absent node or null emb_n drop the list
        else rs.iterator.flatMap { case (_, _, b, ne) =>
          if (ne == null) None // a null score never enters the aggregate
          else {
            val s0 = Similarity.cosLocal(en, ne)
            Some((if (s0 == 0.0d) 0.0d else s0, b)) // TopKBuffer's -0.0 → 0.0
          }
        }.toArray
          .sortWith((a, c) => beats(a._1, a._2, c._1, c._2)).take(M).iterator
          .filter { case (_, b) => survEmb.contains(b) }
          .map { case (_, b) => (layer, node, b, survEmb(b)) }
    }.toSeq
    val untouched = masked.iterator
      .filterNot(r => affected((r._1, r._2))).toSeq
    val out = untouched ++ retrim
    out.toDF("layer", "node", "nbr", "nemb").coalesce(graft.Sliver.localParts(spark, out.size))
  }

  /** The declarative frame pass — the above-gate path (see
    * [[deleteFromAdjacency]] for the contract and step semantics). */
  private[operators] def deleteFrames(survivors: DataFrame, adj: DataFrame,
      doomed: DataFrame): DataFrame = {
    // 0. rename doomed canonicals with surviving identical-embedding
    // replicas to the family's new min surviving id (rename, not mask —
    // the family stays servable through the renamed node)
    val renames = survivors
      .join(broadcast(doomed.select(col("embedding"), col("vec_id").as("old"))),
        Seq("embedding"))
      .groupBy("old").agg(min(col("vec_id")).as("repl"))
    val rnNode = renames.select(col("old").as("node"), col("repl"))
    val rnNbr = renames.select(col("old").as("nbr"), col("repl").as("replb"))
    val adjR = adj
      .join(broadcast(rnNode), Seq("node"), "left")
      .withColumn("node", coalesce(col("repl"), col("node"))).drop("repl")
      .join(broadcast(rnNbr), Seq("nbr"), "left")
      .withColumn("nbr", coalesce(col("replb"), col("nbr"))).drop("replb")
    // ids still doomed after the rename: their entire family is deleted
    val dIds = doomed.select("vec_id")
      .join(renames.select(col("old").as("vec_id")), Seq("vec_id"), "left_anti")
    val dN = dIds.select(col("vec_id").as("node"))
    val dB = dIds.select(col("vec_id").as("nbr"))
    val masked = adjR
      .join(broadcast(dN), Seq("node"), "left_anti")
      .join(broadcast(dB), Seq("nbr"), "left_anti")
    // surviving lists that pointed at a doomed id — the repair set
    val affected = adjR.join(broadcast(dB), Seq("nbr"), "left_semi")
      .join(broadcast(dN), Seq("node"), "left_anti")
      .select("layer", "node").distinct()
    val inL = adjR.join(broadcast(dB), Seq("nbr"), "left_semi")
      .join(broadcast(dN), Seq("node"), "left_anti")
      .select(col("layer"), col("node"), col("nbr").as("dnode"))
    val outL = adjR.join(broadcast(dN), Seq("node"), "left_semi")
      .join(broadcast(dB), Seq("nbr"), "left_anti")
      .select(col("layer"), col("node").as("dnode"), col("nbr"), col("nemb"))
    val bridge = inL.join(outL, Seq("layer", "dnode"))
      .filter(col("node") =!= col("nbr"))
      .select("layer", "node", "nbr", "nemb")
    val retrimmed = masked.join(affected, Seq("layer", "node"), "left_semi")
      .unionByName(bridge)
      .dropDuplicates("layer", "node", "nbr")
      .join(survivors.select(col("vec_id").as("node"),
        col("embedding").as("emb_n")), Seq("node"))
      .groupBy("layer", "node")
      .agg(TopK.topKByScore(V.cosine(col("emb_n"), col("nemb")), col("nbr"), M)
        .as("nbrs"))
      .select(col("layer"), col("node"), explode(col("nbrs")).as("nbr"))
      .join(survivors.select(col("vec_id").as("nbr"),
        col("embedding").as("nemb")), Seq("nbr"))
      .select("layer", "node", "nbr", "nemb")
    masked.join(affected, Seq("layer", "node"), "left_anti")
      .unionByName(retrimmed)
  }

  /** s23: the registered one-shot — build, delete the planted doomed
    * set, serve the s15 external queries over the SURVIVING graph.
    * Completes the index lifecycle (build → insert → read → delete:
    * embeddingController.js:99-122 deleteEmbeddings /
    * deleteNamespaceEmbeddings). Engine-defined graph ⇒ spec class;
    * the driver records rows-only. */
  def s23HnswDelete(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val doomed = e.filter(col("vec_id").isin(deleteIds: _*))
    val survivors = e.filter(!col("vec_id").isin(deleteIds: _*))
    withCachedAdj(buildAdjacency(e)) { adj =>
      searchFrame(survivors, deleteFromAdjacency(survivors, adj, doomed),
        Similarity.externalQueries(s, dir))
    }
  }

  /** Deployment twin: delete from the adjacency AS PERSISTED by
    * [[indexWrite]] — spec-asserted identical to [[s23HnswDelete]]
    * (the copy-on-write serving-tier shape: the store's v5 delete and
    * the graph's masked repair read the same truth). */
  def s23FromPersisted(s: SparkSession, dir: String, path: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val doomed = e.filter(col("vec_id").isin(deleteIds: _*))
    val survivors = e.filter(!col("vec_id").isin(deleteIds: _*))
    withCachedAdj(s.read.parquet(path)) { adj =>
      searchFrame(survivors, deleteFromAdjacency(survivors, adj, doomed),
        Similarity.externalQueries(s, dir))
    }
  }

  // ---- s24: the serving-knob receipt — Ef/BeamHops recall-cost curve ----

  /** The published serving settings: ef from a starved beam to 2× the
    * registered default, each run to its convergence fixed point under
    * the standard hop cap — ef IS the knob; the walk length adapts. */
  val TuningSettings: Seq[(Int, Int)] =
    Seq((4, BeamHops), (8, BeamHops), (16, BeamHops), (32, BeamHops))

  /** s24: the graph index's serving-knob trade-off — s7's sibling
    * (IVF's nprobe curve) for the HNSW read path. ONE build, then one
    * beam-search per (ef, beamHops) setting over the SAME cached
    * adjacency; each row reports recall@[[K]] vs the s15 brute-force
    * truth and the visited-set size per query (the cost the knob
    * actually buys: scored candidates ≈ broadcast-join probes). All
    * quantities are deterministic (the graph, the walk, and the truth
    * are), so the curve is rebuild-stable. Engine-defined ⇒ spec class;
    * the driver records rows-only. */
  def s24HnswTuning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val qs = Similarity.externalQueries(s, dir)
    val truth = Similarity.s15ExternalTopK(s, dir)
      .select("qid", "neighbor").localCheckpoint()
    val nQ = Similarity.NumExternalQueries.toDouble
    val total = truth.count().toDouble
    // The four settings' walks are INDEPENDENT reads over the same
    // cached adjacency — run them concurrently from a small thread pool
    // (guide §2.6: actions are only sequential because the driver calls
    // them sequentially; each walk is driver-action-bound, so its jobs
    // back-fill the scheduler gaps of the others). Results are collected
    // in TuningSettings order and every walk is deterministic, so the
    // published curve is identical to the sequential form (spec-pinned).
    val rows = withCachedAdj(buildAdjacency(e)) { adj =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(TuningSettings.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futs = TuningSettings.map { case (ef, hops) =>
          scala.concurrent.Future {
            val vis = visitedFrame(e, adj, qs, ef, hops)
            // score through the SERVING reporter (expandTopK), not raw
            // canonical node ids: on a corpus with duplicate embeddings the
            // published curve must measure the ids s21 actually returns
            val got = expandTopK(e, vis).select("qid", "neighbor")
            val hits = got.join(truth, Seq("qid", "neighbor"), "left_semi").count()
            val visitedPerQ = vis.count() / nQ
            graft.Checkpoints.release(vis)
            (ef, hops, visitedPerQ, hits / total)
          }
        }
        futs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }
    graft.Checkpoints.release(truth)
    rows.toDF("ef", "beam_hops", "visited_per_query", "recall_at_5")
      .orderBy("ef")
  }

  // ---- p11: near-dup collapse → index → serve (the composed pipeline) ----

  /** Near-duplicate threshold of the p11 collapse — the d5/d11 family
    * convention (nothing organic in the corpus crosses it; every
    * planted/perturbed replica family does). */
  val CollapseTau = 0.99

  /** Ring width of the collapse's candidate stream: collapse needs
    * CONNECTIVITY inside each near-dup family, not a full kNN list, so
    * a narrower ring than the build's [[RingWidth]] suffices (wrapping
    * rings keep every ≥2-member bucket connected in both directions)
    * and cuts the verified-edge volume the component step carries. */
  val CollapseRing = 8

  /** Bucket target of the collapse's candidate stream — fine enough
    * that a near-dup family DOMINATES its own bucket (see
    * [[ringCandidates]]: id-hash ring pairing connects a family only at
    * high within-bucket density; measured on the 200×30 planted fixture,
    * the build's 256 target left 1818 of 6000 rows uncollapsed — 9
    * fragments per family — while 32 collapses to ~1 rep per family).
    * At [[MaxPlanes]] the target degrades gracefully: past ~2^20·32
    * distinct vectors per index, bucket density falls and families
    * fragment — costing graph size, never recall (fragments are still
    * near-dups of each other and the read rescores members exactly). */
  val CollapseTargetBucket = 32L

  /** NEAR-DUP COLLAPSE — d5/d11's discipline packaged for the index:
    * map every vector to a family representative (the min vec_id
    * reachable through cosine->[[CollapseTau]] edges), so the graph can
    * index one node per near-duplicate FAMILY instead of one per near-
    * tie member. Dense near-dup clusters are the one corpus shape that
    * defeats M=6 graph navigation structurally (measured: 100-member
    * colinear chains at 200k → recall@5 0.06 at ef=64 — the documented
    * r15 limit): the diverse cut keeps the graph connected, but the
    * walk cannot thread 100 near-tie members per cluster within any
    * affordable beam. Collapsing first removes the chains from the
    * graph entirely; the read re-expands hits to family members with
    * EXACT rescoring, so near-tie members are still served id-level.
    *
    * Mechanics: exact-collapse window (the [[distinctCorpus]] move,
    * kept as a member map) → ring-bounded banded candidates over the
    * distinct corpus ([[ringCandidates]] — ≤ (Bands+1)·ring·n pairs,
    * skew-proof) → cosine-verified edges → min-id connected components
    * ([[Dedup.connectedComponentsStar]], O(log n) star rounds) →
    * (vec_id, embedding, rep) over the FULL corpus (exact replicas
    * inherit their canonical's family). Below [[BucketedThreshold]]
    * the candidate stream is the exact all-pairs form (the knnExact
    * precedent). Approximate exactly like the build: a near-dup pair
    * outside every shared-bucket ring stays split — two family reps
    * instead of one, which costs graph size, never recall. */
  /** Rounds cap of the iterated collapse — the contraction is geometric
    * (each round merges ring-reachable kin; measured ~9× on 100-member
    * chain families), so the cap is a loud-failure backstop, not a
    * budget the loop approaches. */
  val CollapseRounds = 8

  /** Rep-count threshold below which a collapse round goes exact
    * all-pairs. Higher than the build's [[BucketedThreshold]] because
    * the exact COLLAPSE round is one cosine pass + CC (no per-node
    * top-M machinery — ≤ 8192² ≈ 67M codegen'd cosines), and because
    * the bucketed rounds legitimately stall just above 4096: two
    * chain-DISTANT fragments of one family can differ on a marginal
    * plane in every band (that is what fragmented them), so only the
    * exact pass can close the last gap (measured: the 200k × 100-chain
    * corpus contracts 200k → 22.5k → 4664 bucketed, then sits — 2.3
    * fragments per family — until the exact round lands it at 2000). */
  val CollapseExactThreshold = 8192L

  private[operators] def nearDupCollapse(e0: DataFrame,
      tau: Double = CollapseTau): DataFrame = {
    // exact-collapse via map-combined groupBy + join-back, not a window
    // over the embedding key (the distinctCorpus rationale: a window
    // buffers and sorts a replica family in one task; the aggregate
    // combines map-side and the SHUFFLE_HASH join-back streams the
    // corpus through an unsorted probe — no per-group buffer, no sort,
    // guide §2.5/§3.1). ecanon per row is identical by construction.
    val canon = e0.groupBy("embedding").agg(min(col("vec_id")).as("ecanon"))
    val exact = e0.join(canon.hint("SHUFFLE_HASH"), Seq("embedding"))
      .select(col("vec_id"), col("embedding"), col("ecanon"))
      .localCheckpoint()
    // one collapse round over a rep set: candidate pairs → τ-verified
    // edges → min-id components → (old id, new rep id)
    def collapseRound(dist: DataFrame, n: Long): DataFrame = {
      val cands =
        if (n > CollapseExactThreshold)
          // canonical orientation BEFORE dedup (least/greatest, the
          // knnBucketed symmetrize-first discipline): ring pairs arrive
          // one-directionally in WINDOW order, so filtering on id order
          // instead would drop every pair that happened to be emitted
          // id-descending — measured: half of all kin pairs lost, 12% of
          // members edge-isolated, 29% of families fragmented
          ringCandidates(dist, n, CollapseRing, CollapseTargetBucket,
              fineOrder = true)
            .select(least(col("vec_id"), col("nid")).as("vec_id"),
              greatest(col("vec_id"), col("nid")).as("nid"))
            .dropDuplicates("vec_id", "nid")
        else {
          // exact all-pairs (spread like knnExact: the n² stream must
          // not inherit the corpus's few input splits)
          val par = dist.sparkSession.sparkContext.defaultParallelism * 4
          dist.repartition(par, col("vec_id"))
            .join(dist.select(col("vec_id").as("nid")), col("vec_id") < col("nid"))
            .select("vec_id", "nid")
        }
      val edges = cands
        .join(dist.select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id"))
        .join(dist.select(col("vec_id").as("nid"), col("embedding").as("eb")), Seq("nid"))
        .filter(V.cosine(col("ea"), col("eb")) > tau)
        .select(col("vec_id").as("u"), col("nid").as("v"))
      Dedup.connectedComponentsStar(edges)
    }
    // ITERATE to a fixed point: one bucketed round cannot merge a whole
    // near-dup family when the family is a long near-tie CHAIN — a
    // marginal hyperplane splits the chain into per-band segments and
    // the segment combinations fragment combinatorially (measured at
    // the 200k × 100-member chains: 9 fragments per family after one
    // round). But fragments of one family are near-dups of EACH OTHER,
    // so re-collapsing the rep set contracts the chain geometrically;
    // once the rep set fits under [[BucketedThreshold]] the exact
    // all-pairs round finishes the job in one pass. This is transitive
    // τ-closure (the d7 cluster semantic) computed by contraction.
    //
    // Round boundaries go through a PARQUET round-trip, not a chain of
    // localCheckpoints: each round's candidate/CC tree references its
    // input many times, so chained checkpoints compound their Catalyst
    // sizeInBytes stats multiplicatively round over round — by the
    // read phase the driver was grinding million-digit BigInteger
    // multiplies inside stats estimation (the visitedFrame trap, in
    // loop-of-loops form). A file-backed scan restarts every round
    // from honest file stats; the frames written are rep-sized (the
    // corpus never rewrites — round 1 reads the corpus-derived distinct
    // frame directly and only its contracted rep set is persisted).
    //
    // The round-trip root is a Hadoop-FileSystem path (the
    // VectorStoreSink precedent), NOT a driver-local temp dir: on a
    // cluster, executors commit task files through the Hadoop committer
    // to wherever the path's FileSystem lives, so the read-back sees
    // them — a java.nio driver-local dir only works in local mode.
    // `spark.graft.scratch.dir` points a deployment at its shared
    // scratch FS (e.g. an object-store prefix); the local default is the
    // JVM temp dir, where behavior is unchanged.
    val spark = e0.sparkSession
    val scratchRoot = spark.conf.get("spark.graft.scratch.dir",
      "file://" + sys.props("java.io.tmpdir"))
    val tmp = new org.apache.hadoop.fs.Path(scratchRoot,
      s"graft-collapse-${java.util.UUID.randomUUID().toString.take(13)}")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    def roundTrip(df: DataFrame, tag: String): DataFrame = {
      val path = new org.apache.hadoop.fs.Path(tmp, tag).toString
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    // try/finally: an exception in any round must still delete the
    // scratch dir and release the exact-collapse checkpoint (without it
    // a failed collapse leaked both for the life of the session)
    try {
      var reps = roundTrip(exact.filter(col("vec_id") === col("ecanon"))
        .select("vec_id", "embedding"), "reps_init")
      var nReps = reps.count()
      var renames = List.empty[DataFrame] // (rep, label) per round, in order
      var round = 0
      var converged = false
      while (round < CollapseRounds && !converged) {
        val labels = collapseRound(reps, nReps)
        // the CC's internal label checkpoints are dead once `merged` is
        // file-backed; reps is file-backed too, so the plan holds no
        // checkpoint that anything else reads (released in a finally so
        // a failed round-trip cannot leak them either)
        val merged =
          try roundTrip(labels.filter(col("id") =!= col("label"))
            .select(col("id").as("rep"), col("label")), s"m$round")
          finally graft.Checkpoints.releaseAll(labels)
        if (merged.isEmpty) { converged = true }
        else {
          renames :+= merged
          reps = roundTrip(
            reps.join(merged, col("vec_id") === col("rep"), "left_anti"),
            s"reps$round")
          nReps = reps.count()
        }
        round += 1
      }
      // the cap is a loud-failure backstop, not a budget the loop
      // approaches (contraction is geometric): surface a non-contracting
      // corpus instead of silently serving a partially-collapsed graph
      if (!converged)
        System.err.println(s"[graft] nearDupCollapse stopped at the " +
          s"$CollapseRounds-round cap with merges still occurring " +
          s"(reps=$nReps): partial collapse — fragment reps remain in the graph")
      // compose the rename chain onto the full corpus (exact replicas
      // inherit their canonical's path through every round), then
      // materialize so the scratch files can be deleted
      renames.foldLeft(
          exact.select(col("vec_id"), col("embedding"), col("ecanon").as("rep"))) {
        (acc, m) =>
          acc.join(m, Seq("rep"), "left")
            .select(col("vec_id"), col("embedding"),
              coalesce(col("label"), col("rep")).as("rep"))
      }.localCheckpoint()
    } finally {
      graft.Checkpoints.release(exact)
      fs.delete(tmp, true)
    }
  }

  /** The composed serve: collapse → build the graph over family reps →
    * beam-search → expand top-[[K]] rep hits to family members rescored
    * EXACTLY against the query → id-level top-[[K]]. The expansion is
    * (queries × K × family)-bounded and broadcasts; the member map is
    * scanned once, the corpus never shuffles at read time. Returns
    * (qid, rank, neighbor). */
  private[operators] def collapseServe(e0: DataFrame, queries: DataFrame,
      tau: Double = CollapseTau, ef: Int = Ef, beamHops: Int = BeamHops): DataFrame = {
    val members = nearDupCollapse(e0, tau)
    val reps = members.filter(col("vec_id") === col("rep"))
      .select("vec_id", "embedding")
    val out = withCachedAdj(buildAdjacency(reps)) { adj =>
      val visited = visitedFrame(reps, adj, queries, ef, beamHops)
      val topRep = visited.groupBy("qid")
        .agg(TopK.topKByScore(col("sc"), col("node"), K).as("nbrs"))
        .select(col("qid"), explode(col("nbrs")).as("rep"))
      val fam = members.join(broadcast(topRep), Seq("rep"))
        .select(col("qid"), col("vec_id"), col("embedding"))
      val served = fam.join(broadcast(queries), Seq("qid"))
        .groupBy("qid")
        .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")),
          col("vec_id"), K).as("nbrs"))
        .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "neighbor")))
        .select(col("qid"), (col("pos") + 1).as("rank"), col("neighbor"))
        .orderBy("qid", "rank")
        .localCheckpoint()
      graft.Checkpoints.release(visited)
      served
    }
    graft.Checkpoints.release(members)
    out
  }

  /** p11: the composed training-data-pipeline answer to dense near-dup
    * mass — d5/d11's collapse IN FRONT OF the s21 index, as one
    * registered end-to-end row (the r15 receipts showed the raw graph
    * read degrading to recall 0.06 on 100-member near-tie clusters at
    * 200k; collapsed-first the same corpus serves at ≥0.9 — the spec
    * pins the clustered-fixture recall, HnswCollapseSpec). Reference
    * analogue: the dedup screen ahead of the index rebuild
    * (embeddingController.js:10-57 → customTrainDataController.js:28-86).
    * Engine-defined graph ⇒ spec class like s21; driver records
    * rows-only. */
  def p11CollapseServe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    collapseServe(e, Similarity.externalQueries(s, dir))
  }
}
