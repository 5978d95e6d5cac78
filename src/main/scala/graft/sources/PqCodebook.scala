package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED product-quantization codebooks — the quality path the s8
  * mechanics demo (graft.operators.Similarity.s8PqAdc) points at, and
  * the quantizer behind the s9/s10 recall curves. The reference's
  * retrieval tier rides a trained index
  * (/root/reference/controllers/customTrainDataController.js:56-62:
  * `HNSWLib.fromDocuments` builds, `.load`/`.save` round-trip it); this
  * is the bulk-built Spark equivalent for the PQ stage.
  *
  * Training is per-subspace k-means (Lloyd), made DETERMINISTIC and
  * cross-engine bit-exact so the DuckDB oracle can replicate the whole
  * train → encode → score pipeline:
  *
  *  - every sub-vector component is floored to integer MICROS
  *    (`floor(v * 1e6)`) before anything else — distances, assignments
  *    and inner products are then exact BIGINT arithmetic with no
  *    accumulation-order sensitivity (the v4/d11 fixed-point contract);
  *  - init: codeword c of subspace m = the micro sub-vector of vec_id c
  *    (ids are dense from 0, so this is the deterministic "first k
  *    vectors" seed — what s8 uses as its UNtrained codebook);
  *  - assign: argmin of the exact integer squared distance, ties to the
  *    lowest codeword id;
  *  - update: per-component `floor(sum/count)` — the BIGINT sum is
  *    order-independent, and sums stay < 2^53 (|component| ≤ 1e6 micro,
  *    so a cluster of 10^9 members still fits), so the one IEEE divide
  *    + floor is bit-identical in both engines; an EMPTY cluster keeps
  *    its previous codeword;
  *  - a FIXED iteration count (no convergence test): the whole training
  *    chain is a pure dataflow plan — no driver-side loop control, no
  *    collect; at 100 TB the input is a bounded deterministic sample
  *    (pass a sampled frame), k-means quality needs samples ∝ k, not
  *    ∝ corpus.
  *
  * Encoding and ADC scoring stay integer-exact end-to-end: codes are
  * argmin-L2 against the trained codebook; a query's ADC lookup table
  * holds exact BIGINT micro²-scale inner products; the corpus-side score
  * is M array lookups summed — order-independent integer addition, so
  * the oracle needs no fixed-order float fold at all (an improvement on
  * s8's double fold). Unit-norm embeddings make the micro inner product
  * a faithful cosine proxy, which s9's recall rows quantify against the
  * s1 exact truth.
  */
object PqCodebook {

  /** Default geometry: 32 subspaces × 2 dims over the 64-dim embeddings.
    * At k=32 codewords a code is 32 × 5 bits = 20 B vs 256 B of floats
    * (~13× smaller) and measures recall@5 ≈ 0.64 at sf0.1 raw — and
    * ≈ 0.98 behind the s10 shortlist + exact re-rank. s8's coarser
    * 8 × 8 geometry compresses harder (~85×) but measures recall@5 ≈
    * 0.22 untrained: the two queries are the ends of the same
    * compression/recall axis. */
  val M = 32
  val Sub = 2
  val Iters = 3

  private def microSubExpr(vec: String, m: Int, sub: Int): String =
    s"transform(slice($vec, ${m * sub + 1}, $sub), v -> cast(floor(cast(v as double) * 1e6) as bigint))"

  /** (vec_id, m, xm): each vector exploded into its M micro-quantized
    * sub-vectors. One map-only pass; the per-subspace frame everything
    * downstream (train, encode, query tables) consumes. */
  def subspacePoints(e: DataFrame, m: Int = M, sub: Int = Sub): DataFrame =
    e.select(col("vec_id"),
        posexplode(array((0 until m).map(i => expr(microSubExpr("embedding", i, sub))): _*))
          .as(Seq("m", "xm")))

  /** All codebooks for the size grid `ks`, trained in ONE shared
    * dataflow: (kcb, m, c, cent) — identical per-k results to training
    * each size alone (the per-k SQL oracle pins this end-to-end), but
    * every Lloyd iteration costs ONE corpus pass + ONE (ks × m × k)-
    * bound aggregate for ALL sizes at once instead of per-size stage
    * chains (the s9 curve measured 13.5 s as four separate trainings —
    * stage-count-bound, not arithmetic-bound; shared, the whole curve
    * runs in a few stages).
    *
    * Per iteration: every codebook collapses into one broadcast row
    * (kbs[ki][m][c][j]); assignment for every size is the native
    * codegen'd argmin (graft.functions.PqEncode) on the SAME map-only
    * scan; the centroid update aggregates (kcb, m, c)-keyed sums —
    * group-count-bound — and empty clusters keep their codeword via a
    * broadcast left join. The corpus never shuffles. Fixed `iters`, no
    * driver loop-control actions; callers materialize (localCheckpoint)
    * the tiny result before fanning out. */
  def trainMany(e: DataFrame, ks: Seq[Int], iters: Int = Iters,
      m: Int = M, sub: Int = Sub): DataFrame =
    trainManyLocal(e, ks, iters, m, sub)
      .getOrElse(trainManyFrames(e, ks, iters, m, sub))

  /** Driver-side Lloyd over a collected corpus sliver — bit-identical
    * to [[trainManyFrames]] (same micro quantization, same argmin
    * tie-break to the lowest codeword, exact long sums, the same
    * floor(double-divide) centroid update, empty clusters keep their
    * codeword; sums/counts are order-independent so the collected row
    * order is immaterial). The frames are STAGE-overhead-bound (sf0.1:
    * ~4 s of per-stage scheduling for ~25 M integer ops), and FAISS's
    * train() likewise runs k-means on one machine. None when
    * [[graft.Sliver]] does not admit the corpus, on a non-(vec_id,
    * embedding) frame, on a ragged corpus, or when any init vector
    * vec_id < max(ks) is missing — callers fall back to the frames. */
  private def trainManyLocal(e: DataFrame, ks: Seq[Int], iters: Int,
      m: Int, sub: Int): Option[DataFrame] = {
    val spark = e.sparkSession
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val fields = e.schema.fields
    val shapeOk = fields.length == 2 && fields(0).dataType == LongType &&
      (fields(1).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    if (!shapeOk) return None
    // one CollectLimit job both fetches and measures (no full count)
    val rows = graft.Sliver.collect("pq.train", e) match {
      case Some(rs) => rs
      case None => return None
    }
    val dim = m * sub
    val n = rows.length
    val vecs = Array.newBuilder[Array[Long]]
    val byId = scala.collection.mutable.LongMap.empty[Array[Long]]
    var i = 0
    while (i < n) {
      val row = rows(i)
      if (!row.isNullAt(1)) {
        val emb = row.getSeq[Float](1)
        if (emb.length != dim) return None // ragged corpus: frames decide
        val x = new Array[Long](dim)
        var j = 0
        while (j < dim) { x(j) = math.floor(emb(j).toDouble * 1e6).toLong; j += 1 }
        vecs += x
        if (!row.isNullAt(0)) byId(row.getLong(0)) = x
      }
      i += 1
    }
    val xs = vecs.result()
    val kmax = ks.max
    // site precondition: Lloyd starts from the init vectors, so a corpus
    // missing any of them — an empty one included — is left to the frames
    if ((0 until kmax).exists(c => !byId.contains(c.toLong))) return None
    // cents(ki)(mi)(c) = codeword array, initialized from vec_id < k
    var cents = ks.map(k => Array.tabulate(m, k) { (mi, c) =>
      java.util.Arrays.copyOfRange(byId(c.toLong), mi * sub, mi * sub + sub)
    }).toArray
    for (_ <- 1 to iters) {
      val sums = ks.map(k => Array.ofDim[Long](m, k, sub)).toArray
      val counts = ks.map(k => Array.ofDim[Long](m, k)).toArray
      var vi = 0
      while (vi < xs.length) {
        val x = xs(vi)
        var ki = 0
        while (ki < ks.length) {
          val k = ks(ki)
          val cb = cents(ki)
          var mi = 0
          while (mi < m) {
            val off = mi * sub
            var best = 0; var bestD = Long.MaxValue
            var c = 0
            while (c < k) {
              val cent = cb(mi)(c)
              var d = 0L; var j = 0
              while (j < sub) { val t = x(off + j) - cent(j); d += t * t; j += 1 }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            val srow = sums(ki)(mi)(best)
            var j = 0
            while (j < sub) { srow(j) += x(off + j); j += 1 }
            counts(ki)(mi)(best) += 1L
            mi += 1
          }
          ki += 1
        }
        vi += 1
      }
      cents = ks.indices.map { ki =>
        Array.tabulate(m, ks(ki)) { (mi, c) =>
          val nC = counts(ki)(mi)(c)
          if (nC == 0L) cents(ki)(mi)(c)
          else Array.tabulate(sub)(j =>
            math.floor(sums(ki)(mi)(c)(j).toDouble / nC.toDouble).toLong)
        }
      }.toArray
    }
    import spark.implicits._
    val out = for {
      ki <- ks.indices; mi <- 0 until m; c <- 0 until ks(ki)
    } yield (ks(ki), mi, c, cents(ki)(mi)(c).toSeq)
    // codebook-sized local relation on ONE partition (the ccLocalLabels
    // layout lesson: LocalRelations otherwise materialize across
    // leafNodeDefaultParallelism tasks)
    Some(out.toDF("kcb", "m", "c", "cent").coalesce(1))
  }

  /** The distributed shared-dataflow form — the above-gate path. */
  private def trainManyFrames(e: DataFrame, ks: Seq[Int], iters: Int,
      m: Int, sub: Int): DataFrame = {
    import graft.functions.{PqExpressions => PQ}
    val initPts = subspacePoints(e.filter(col("vec_id") < ks.max), m, sub)
    var cents = ks.map(k => initPts.filter(col("vec_id") < k)
        .select(lit(k).as("kcb"), col("m"), col("vec_id").cast("int").as("c"),
          col("xm").as("cent")))
      .reduce(_ unionByName _)
    var prevCkpt: DataFrame = null
    val kvalues = s"array(${ks.mkString(", ")})"
    for (_ <- 1 to iters) {
      val kbs = kbsRow(cents, ks, m)
      // codes are 1-based positions in the c-sorted codebook row; c ids
      // stay dense 0..k-1 across iterations, so position - 1 == c
      val assigned = e.crossJoin(broadcast(kbs))
        .select(xmsCol("embedding", m, sub).as("xms"),
          array(ks.indices.map(i =>
            PQ.encode(col("embedding"), element_at(col("kbs"), i + 1))): _*).as("kcodes"))
        .select(col("xms"), posexplode(col("kcodes")).as(Seq("ki", "codes")))
        .select(element_at(expr(kvalues), col("ki") + 1).as("kcb"),
          posexplode(expr(
            "zip_with(codes, xms, (c, x) -> named_struct('c', c, 'x', x))")).as(Seq("m", "cx")))
        .select(col("kcb"), col("m"), (col("cx.c") - 1).as("c"), col("cx.x").as("xm"))
      val sums = (0 until sub).map(j => sum(element_at(col("xm"), j + 1)).as(s"s$j"))
      val updated = assigned.groupBy("kcb", "m", "c")
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("kcb"), col("m"), col("c"),
          array((0 until sub).map(j =>
            floor(col(s"s$j").cast("double") / col("n")).cast("long")): _*).as("cent2"))
      // each iteration references `cents` twice (carry side + update
      // lineage): without truncation the plan DOUBLES per iteration and
      // iteration 3 re-scans the corpus ~2^3 times. The checkpointed
      // frame is (|grid| × m × k) rows — codebook-sized, never corpus-
      // sized; superseded iterations are released (loop hygiene,
      // graft.Checkpoints)
      val next = cents.join(broadcast(updated), Seq("kcb", "m", "c"), "left")
        .select(col("kcb"), col("m"), col("c"),
          coalesce(col("cent2"), col("cent")).as("cent"))
        .localCheckpoint()
      if (prevCkpt != null) graft.Checkpoints.release(prevCkpt)
      prevCkpt = next
      cents = next
    }
    cents
  }

  /** Single-size convenience: trained codebook as (m, c, cent). */
  def train(e: DataFrame, k: Int, iters: Int = Iters, m: Int = M, sub: Int = Sub): DataFrame =
    trainMany(e, Seq(k), iters, m, sub).drop("kcb")

  /** ALL size-grid codebooks as ONE broadcastable row:
    * kbs[ki][m+1][c+1] = codeword array of grid entry ki. Built with a
    * single single-row aggregate + expression-level nesting (one stage —
    * this runs once per Lloyd iteration). */
  def kbsRow(cents: DataFrame, ks: Seq[Int], m: Int = M): DataFrame =
    cents.groupBy()
      .agg(sort_array(collect_list(struct(col("kcb"), col("m"), col("c"), col("cent")))).as("cw"))
      .select(expr(
        s"transform(array(${ks.mkString(", ")}), kv -> transform(sequence(0, ${m - 1}), " +
          "mi -> transform(filter(cw, s -> s.kcb = kv AND s.m = mi), s -> s.cent)))").as("kbs"))

  /** Codebook as ONE broadcastable row: cbs[m+1][c+1] = codeword array.
    * The s4/s8 delivery shape — no collect, no literal in codegen. */
  def codebookRow(cents: DataFrame): DataFrame =
    cents.groupBy("m")
      .agg(sort_array(collect_list(struct(col("c"), col("cent")))).as("cs"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("m"), col("cs")))).as("mm"))
      .select(expr("transform(mm, x -> transform(x.cs, y -> y.cent))").as("cbs"))

  /** Map-only micro sub-vector array: xms[m+1] = micro(sub-vector m). */
  def xmsCol(vec: String = "embedding", m: Int = M, sub: Int = Sub): Column =
    array((0 until m).map(i => expr(microSubExpr(vec, i, sub))): _*)

  /** Per-subspace integer L2 to every codeword: sss[m+1][c+1] = d². */
  val sssExpr: String =
    "transform(xms, (xm, i) -> transform(element_at(cbs, cast(i + 1 as int)), " +
      "ct -> aggregate(zip_with(xm, ct, (a, b) -> (a - b) * (a - b)), cast(0 as bigint), (s, v) -> s + v)))"

  /** Codes from sss: first index of the min (ties → lowest codeword). */
  val codesExpr: String =
    "transform(sss, ss -> cast(array_position(ss, array_min(ss)) as int))"

  /** Query ADC table: tbls[m+1][c+1] = exact integer micro² inner
    * product of query sub-vector m with codeword c. */
  val tblsExpr: String =
    "transform(xms, (xm, i) -> transform(element_at(cbs, cast(i + 1 as int)), " +
      "ct -> aggregate(zip_with(xm, ct, (a, b) -> a * b), cast(0 as bigint), (s, v) -> s + v)))"

  /** ADC score: M table lookups, exact integer sum. */
  val adcScoreExpr: String =
    "aggregate(zip_with(codes, tbls, (c, t) -> element_at(t, c)), cast(0 as bigint), (s, v) -> s + v)"

  // ---- DuckDB oracle generators: the SAME arithmetic, SQL-side ----

  /** `pts` CTE body (alias the result as pts): micro sub-vectors. */
  def ptsSql(m: Int = M, sub: Int = Sub): String =
    s"""SELECT vec_id, m,
       | list_transform(list_slice(embedding, m*$sub+1, m*$sub+$sub),
       |   v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xm
       |FROM embeddings CROSS JOIN (SELECT unnest(range($m)) AS m) ms""".stripMargin

  private def d2Sql(x: String, c: String, sub: Int): String =
    (1 to sub).map(j => s"($x[$j] - $c[$j]) * ($x[$j] - $c[$j])").mkString(" + ")

  private def ipSql(x: String, c: String, sub: Int): String =
    (1 to sub).map(j => s"$x[$j] * $c[$j]").mkString(" + ")

  /** Training CTE chain for one codebook size: emits `${pfx}cent0` ..
    * `${pfx}cent$iters`; the final one is the trained codebook
    * (m, c, cent). Append after a `pts` CTE. */
  def trainSql(pfx: String, k: Int, iters: Int = Iters, sub: Int = Sub): String = {
    val init = s"${pfx}cent0 AS (SELECT m, CAST(vec_id AS INT) AS c, xm AS cent FROM pts WHERE vec_id < $k)"
    val steps = (1 to iters).map { i =>
      val prev = s"${pfx}cent${i - 1}"
      val cj = (1 to sub).map(j =>
        s"CAST(floor(CAST(sum(xm[$j]) AS DOUBLE) / count(*)) AS BIGINT)").mkString("[", ", ", "]")
      s"""${pfx}asg$i AS (
         |  SELECT m, c, xm FROM (
         |    SELECT p.vec_id, p.m, p.xm, c.c,
         |      row_number() OVER (PARTITION BY p.vec_id, p.m
         |        ORDER BY ${d2Sql("p.xm", "c.cent", sub)} ASC, c.c ASC) AS rn
         |    FROM pts p JOIN $prev c ON c.m = p.m) WHERE rn = 1),
         |${pfx}cent$i AS (
         |  SELECT o.m, o.c, coalesce(u.cent, o.cent) AS cent
         |  FROM $prev o LEFT JOIN (
         |    SELECT m, c, $cj AS cent FROM ${pfx}asg$i GROUP BY m, c) u
         |    ON u.m = o.m AND u.c = o.c)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Encode + query-table CTEs against `${pfx}cent$iters`: emits
    * `${pfx}codes` (vec_id, m, code) and `${pfx}tbl` (qid, m, c, t —
    * exact BIGINT inner products). */
  def encodeSql(pfx: String, iters: Int = Iters, sub: Int = Sub): String = {
    val cent = s"${pfx}cent$iters"
    s"""${pfx}codes AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT p.vec_id, p.m, c.c,
       |      row_number() OVER (PARTITION BY p.vec_id, p.m
       |        ORDER BY ${d2Sql("p.xm", "c.cent", sub)} ASC, c.c ASC) AS rn
       |    FROM pts p JOIN $cent c ON c.m = p.m) WHERE rn = 1),
       |${pfx}tbl AS (
       |  SELECT q.vec_id AS qid, c.m, c.c, ${ipSql("q.xm", "c.cent", sub)} AS t
       |  FROM pts q JOIN $cent c ON c.m = q.m WHERE q.vec_id < 10)""".stripMargin
  }

  /** encodeSql + the whole-corpus ADC scores: `${pfx}scores` (qid,
    * neighbor, score — exact BIGINT, plain GROUP BY sum: integer
    * addition needs no fixed-order fold). */
  def scoreSql(pfx: String, iters: Int = Iters, sub: Int = Sub): String =
    s"""${encodeSql(pfx, iters, sub)},
       |${pfx}scores AS (
       |  SELECT t.qid, cd.vec_id AS neighbor, sum(t.t) AS score
       |  FROM ${pfx}codes cd
       |  JOIN ${pfx}tbl t ON t.m = cd.m AND t.c = cd.code AND cd.vec_id <> t.qid
       |  GROUP BY t.qid, cd.vec_id)""".stripMargin
}
