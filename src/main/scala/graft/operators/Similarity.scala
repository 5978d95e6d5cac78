package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TopK, VectorExpressions => V}

/** Vector store + similarity search: the reference's Pinecone/hnswlib
  * surface (embeddingController.js upsert/delete; customTrainDataController.js
  * retriever) as Spark-first operators over an `embedding Array[Float]`
  * column.
  *
  * Scale notes:
  *  - scoring runs inside whole-stage codegen (graft.functions.CosineSimilarity);
  *  - top-k uses a bounded partial aggregate (graft.functions.TopKByScore) so
  *    the shuffle carries O(partitions × queries × k) rows, never the N×Q
  *    score matrix;
  *  - the LSH path prunes candidates by bucket equality BEFORE scoring —
  *    at 100 TB the brute-force path is the correctness baseline, LSH the
  *    serving path;
  *  - query sets are broadcast; the big side is never shuffled for s1/s2.
  *
  * Similarity queries output (qid, rank, neighbor) only — scores are
  * engine-internal because float accumulation order differs across
  * engines at ~1e-8, which would break exact hash comparison while never
  * realistically reordering ranks.
  */
object Similarity {

  val NumPlanes = 8
  val Dim = 64

  /** Deterministic random hyperplanes with float32-exact components
    * (k/1024 grid) so the Spark literal (float) and the DuckDB literal
    * (double) are bit-identical inputs. */
  lazy val planes: Array[Array[Float]] =
    Array.tabulate(NumPlanes, Dim) { (i, j) =>
      val k = (((i.toLong * Dim + j) * 2654435761L) % 1024L) - 512L
      (k / 1024.0).toFloat
    }

  private def planeSqlLiteral(p: Array[Float]): String =
    p.map(v => f"${v.toDouble}%.10f").mkString("[", ", ", "]")

  /** Spark-side LSH bucket id: bit i = sign(dot(v, plane_i)). Fewer
    * planes → coarser buckets → more candidates → higher recall (the s7
    * tuning axis). */
  def lshBucket(vec: Column, nPlanes: Int = NumPlanes): Column =
    planes.take(nPlanes).zipWithIndex.map { case (p, i) =>
      when(V.dot(vec, typedlit(p)) > 0d, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** DuckDB-side bucket, same constants. */
  def lshBucketSql(vecCol: String, nPlanes: Int = NumPlanes): String =
    planes.take(nPlanes).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vecCol, ${planeSqlLiteral(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  private def explodeRanks(grouped: DataFrame): DataFrame =
    grouped
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "neighbor")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("neighbor"))
      .orderBy("qid", "rank")

  // ---- external query batches (the serving-side input shape) ----

  /** Number of generated external queries (qids 0..N-1). */
  val NumExternalQueries = 10

  /** EXTERNAL query batch: (qid, qemb) vectors that are NOT corpus
    * members — the reference's normal serving case (it embeds an
    * arbitrary user question and queries the store with it,
    * conversationController.js:31-38; a query vector that happens to be
    * in the index is the exception, not the rule). Every `*For` variant
    * in this family and the t26/s12/s13/p4 retrieval surface accepts a
    * batch of this shape; this generator exists so the oracle rows
    * (s15/s16) can pin the external path with a vector set BOTH engines
    * derive identically.
    *
    * qid i = the WEIGHTED combination (3·e₂ᵢ + e₂ᵢ₊₁)/4 of corpus
    * embeddings 2i and 2i+1, computed in double (3x is exact for any
    * float32 x, the sum is one correctly-rounded op, /4 is an exact
    * scale) and rounded once to float32 — the s11 rule, so Spark and
    * DuckDB hold bit-identical query vectors. The weights are
    * deliberately ASYMMETRIC: a plain mean of two near-unit vectors is
    * an exact mathematical tie between its parents (q·a = q·b =
    * (1+a·b)/2), which cross-engine float noise would break
    * arbitrarily; the 3:1 blend separates the parents by (1−a·b)/2 —
    * far above noise — so the family's rank-stability contract applies
    * downstream. A convex blend of two in-range floats is in range,
    * and with probability ~1 is no corpus member. */
  def externalQueries(s: SparkSession, dir: String): DataFrame =
    externalQueriesFrame(Tables.embeddings(s, dir).select("vec_id", "embedding"))

  /** Corpus-parameterized body of [[externalQueries]] (spec fixtures). */
  private[graft] def externalQueriesFrame(e: DataFrame): DataFrame = {
    val a = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2L * NumExternalQueries)
      .select((col("vec_id") / 2).cast("long").as("qid"), col("embedding").as("ea"))
    val b = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 2L * NumExternalQueries)
      .select(((col("vec_id") - 1) / 2).cast("long").as("qid"), col("embedding").as("eb"))
    a.join(b, Seq("qid"))
      .select(col("qid"), zip_with(col("ea"), col("eb"),
        (x, y) => ((lit(3.0) * x.cast("double") + y.cast("double")) / lit(4.0)).cast("float")).as("qemb"))
  }

  /** The extq CTE both oracle rows share (same construction, DuckDB). */
  val ExtqSql: String =
    s"""extq AS (
       | SELECT cast(a.vec_id // 2 AS bigint) AS qid,
       |  [cast((3 * cast(a.embedding[i] AS double) + cast(b.embedding[i] AS double)) / 4 AS real)
       |   for i in generate_series(1, len(a.embedding))] AS qemb
       | FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       | WHERE a.vec_id % 2 = 0 AND a.vec_id < ${2 * NumExternalQueries})""".stripMargin

  /** Brute-force cosine top-k of a (qid, qemb) query batch against a
    * (vec_id, embedding) corpus — the serving primitive behind
    * s1/s5/s11/s15: broadcast queries × one corpus scan → codegen'd
    * cosine → the bounded TopKByScore aggregate (the shuffle carries
    * O(partitions × queries × k) rows, never the N×Q score matrix).
    * `excludeSelf` drops the candidate whose vec_id equals qid — the
    * corpus self-query fixtures; external batches keep every candidate
    * (their qids live in their own namespace). */
  private[graft] def bruteTopKFrame(corpus: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean): DataFrame = {
    // Routing (r18, the Hnsw broadcast-local discipline applied to the
    // brute-force serving primitive): the frame pass is 3 stages of
    // fixed overhead (broadcast, topk aggregate pair, sort) around ~ms
    // of scoring work at bench scale — when [[graft.Sliver]] admits the
    // slivers the scoring loop runs driver-side over them,
    // bit-identically (BruteTopKEquivalenceSpec; s1/s5/s15 are oracle-
    // hash-gated on top). Otherwise the frame pass streams the corpus —
    // the only shape that works corpus-sized.
    val lt = org.apache.spark.sql.types.LongType
    val typesOk =
      corpus.schema("vec_id").dataType == lt &&
        Hnsw.isFloatArray(corpus.schema("embedding").dataType) &&
        queries.schema("qid").dataType == lt &&
        Hnsw.isFloatArray(queries.schema("qemb").dataType)
    val local =
      if (typesOk && graft.Sliver.fits("brute", corpus.sparkSession)(
          () => graft.Sliver.bytes(queries), () => graft.Sliver.bytes(corpus)))
        bruteTopKLocal(corpus, queries, k, excludeSelf)
      else None
    local.getOrElse {
      val joined =
        if (excludeSelf) corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
        else corpus.crossJoin(broadcast(queries))
      explodeRanks(joined.groupBy("qid")
        .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), k).as("nbrs")))
    }
  }

  /** Driver-local replication of the frame brute top-k — bit-identical
    * by construction: [[cosLocal]] is the codegen'd CosineSimilarity's
    * exact loop, the cut is TopKBuffer's exact order (score desc via
    * Double.compare with -0.0 normalized at insert, id asc), null
    * corpus keys/embeddings are skipped like the aggregate's update,
    * a null-qemb query emits no rows (the frame's empty-array explode),
    * and the self-exclusion join predicate is applied pre-scoring.
    * Returns None on a null qid (the frame's null group semantics are
    * not worth replicating — no real batch carries one). */
  private def bruteTopKLocal(corpus: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean): Option[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = queries.select("qid", "qemb").collect()
    if (qRows.exists(_.isNullAt(0))) return None
    val qs = qRows.map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
    val cs = corpus.select("vec_id", "embedding").collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toArray
    val out = qs.iterator.flatMap { case (qid, qemb) =>
      if (qemb == null) Iterator.empty
      else {
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        cs.foreach { case (id, emb) =>
          if (!(excludeSelf && id == qid)) {
            val s = cosLocal(qemb, emb)
            buf += ((if (s == 0.0d) 0.0d else s, id))
          }
        }
        buf.sortWith((a, b) => beatsLocal(a._1, a._2, b._1, b._2)).take(k)
          .iterator.zipWithIndex.map { case ((_, id), pos) => (qid, pos + 1, id) }
      }
    }.toSeq
    Some(out.toDF("qid", "rank", "neighbor").coalesce(1).orderBy("qid", "rank"))
  }

  /** s1: brute-force cosine top-5 for the 10 query vectors (vec_id<10).
    * Broadcast queries × full scan → codegen'd cosine → bounded topk agg. */
  def s1BruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    bruteTopKFrame(e, q, 5, excludeSelf = true)
  }

  /** s15: brute-force top-5 for an EXTERNAL query batch — the serving
    * query the reference actually runs (embed the user's question, rank
    * the whole store against it). Same plan as s1; no self-exclusion
    * because the queries are not store members. */
  def s15ExternalTopK(s: SparkSession, dir: String): DataFrame =
    bruteTopKFrame(Tables.embeddings(s, dir).select("vec_id", "embedding"),
      externalQueries(s, dir), 5, excludeSelf = false)

  lazy val s15Sql: String =
    s"""WITH $ExtqSql
       |SELECT q.qid,
       | row_number() OVER (PARTITION BY q.qid
       |   ORDER BY list_cosine_similarity(q.qemb, v.embedding) DESC, v.vec_id ASC) AS rank,
       | v.vec_id AS neighbor
       |FROM extq q CROSS JOIN embeddings v
       |QUALIFY rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** nprobe for the s16 external-recall audit (the deployment point). */
  val ExtNprobe = 2

  /** s16: ANN recall for EXTERNAL queries — the honest serving number
    * (s6 measures recall on corpus self-queries, which flatter an index
    * because every query sits exactly on a stored point; a held-out
    * probe set is how recall is actually reported). IVF probed at
    * nprobe=2 and 8-plane LSH, each scored against the external
    * brute-force truth (s15's top-5). Same materialization discipline
    * as s6: the truth sliver and the tiny query batch are pinned once;
    * the IVF assignment is the one corpus-sized pass, shared shape with
    * s4; everything downstream is (queries × k)-bound. */
  def s16ExternalRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val qs = externalQueries(s, dir).localCheckpoint()
    val truth = bruteTopKFrame(e, qs, 5, excludeSelf = false)
      .select("qid", "neighbor").localCheckpoint()
    // IVF: s4's deterministic codebook, map-only assignment, top-2 probes
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val cb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
    val probes = qs.crossJoin(broadcast(cent))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("cemb")), col("cid"), ExtNprobe).as("pcids"),
           first(col("qemb")).as("qemb"))
      .select(col("qid"), col("qemb"), explode(col("pcids")).as("pcid"))
    val ivf = explodeRanks(assigned.join(broadcast(probes), col("cid") === col("pcid"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs")))
      .select("qid", "neighbor")
    // LSH: 8-plane buckets, query bucketed with the same hyperplanes
    val bucketed = e.withColumn("bucket", lshBucket(col("embedding")))
    val qb = qs.withColumn("qbucket", lshBucket(col("qemb")))
    val lsh = explodeRanks(bucketed.join(broadcast(qb), col("bucket") === col("qbucket"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs")))
      .select("qid", "neighbor")
    def row(method: String, approx: DataFrame): DataFrame =
      truth.join(approx.withColumn("hit", lit(1)), Seq("qid", "neighbor"), "left")
        .agg(count(col("hit")).as("hits"), count(lit(1)).as("total"))
        .select(lit(method).as("method"), col("hits"), col("total"),
          expr("hits * 1000000 div total").as("recall_ppm"))
    row("ivf", ivf).unionByName(row("lsh", lsh)).orderBy("method")
  }

  lazy val s16Sql: String =
    s"""WITH $ExtqSql,
       |truth AS (
       | SELECT qid, vec_id AS neighbor FROM (
       |  SELECT q.qid, v.vec_id,
       |   row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_cosine_similarity(q.qemb, v.embedding) DESC, v.vec_id ASC) AS rank
       |  FROM extq q CROSS JOIN embeddings v) WHERE rank <= 5),
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
       |assigned AS (
       | SELECT e.vec_id, e.embedding, c.cid
       | FROM embeddings e CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1),
       |probes AS (
       | SELECT q.qid, q.qemb, c.cid FROM extq q CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY q.qid
       |   ORDER BY list_cosine_similarity(q.qemb, c.cemb) DESC, c.cid ASC) <= $ExtNprobe),
       |ivf AS (
       | SELECT qid, neighbor FROM (
       |  SELECT p.qid, v.vec_id AS neighbor,
       |   row_number() OVER (PARTITION BY p.qid
       |    ORDER BY list_cosine_similarity(p.qemb, v.embedding) DESC, v.vec_id ASC) AS rank
       |  FROM probes p JOIN assigned v ON v.cid = p.cid) WHERE rank <= 5),
       |lshb AS (
       | SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
       |qb AS (
       | SELECT qid, qemb, ${lshBucketSql("qemb")} AS bucket FROM extq),
       |lsh AS (
       | SELECT qid, neighbor FROM (
       |  SELECT q.qid, v.vec_id AS neighbor,
       |   row_number() OVER (PARTITION BY q.qid
       |    ORDER BY list_cosine_similarity(q.qemb, v.embedding) DESC, v.vec_id ASC) AS rank
       |  FROM qb q JOIN lshb v ON v.bucket = q.bucket) WHERE rank <= 5),
       |tot AS (SELECT count(*) AS total FROM truth),
       |h AS (
       | SELECT 'ivf' AS method, count(*) AS hits FROM ivf JOIN truth USING (qid, neighbor)
       | UNION ALL
       | SELECT 'lsh' AS method, count(*) AS hits FROM lsh JOIN truth USING (qid, neighbor))
       |SELECT method, cast(hits AS bigint) AS hits,
       | cast(total AS bigint) AS total,
       | cast(hits * 1000000 // total AS bigint) AS recall_ppm
       |FROM h CROSS JOIN tot ORDER BY method""".stripMargin

  // ---- s18: range search — the vector-level ingest near-dup check ----

  /** τ for [[s18RangeSearch]] — d5's validated near-dup margin: an exact
    * re-upload scores 1.0, an external blend's dominant parent ≈ 0.95,
    * and organic cross-vector cosines on this store sit far below. */
  val RangeTau = 0.9

  /** s18: RANGE SEARCH over the store (FAISS `range_search` — the other
    * read primitive next to top-k: not "the best k" but "EVERYTHING
    * within τ"), framed as the vector-level INGEST CHECK — d24's (text)
    * and m5's (media) recurring-crawl screen at the embedding tier, and
    * the guard a serving tier runs before v1-upserting a new vector
    * (the reference upserts unconditionally, embeddingController.js:
    * 10-57; at 100 TB an unchecked re-upload is how stores silt up).
    * The query batch = the external blends ∪ exact RE-UPLOADS of five
    * stored vectors; per query: every stored neighbor with cosine ≥ τ,
    * reported as the ingest verdict (matches in range, lowest matching
    * id, novelty bit — -1 sentinel instead of NULL, the d24 shape).
    *
    * Plan: ONE corpus scan × the broadcast query batch with the cosine
    * threshold INSIDE the codegen'd filter — no top-k state at all, and
    * the post-filter frame is (in-range hits)-bound, not corpus-bound;
    * the verdict join is queries-sized. Scale: range search is the one
    * ANN read where output size is data-dependent — the τ filter is the
    * bound, and the IVF-pruned variant (probe then filter) composes
    * from s4's machinery exactly as top-k does. */
  def s18RangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val reups = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      .select((col("vec_id") + 900).as("qid"), col("embedding").as("qemb"))
    val qs = externalQueries(s, dir).unionByName(reups)
    val hits = e.crossJoin(broadcast(qs))
      .filter(V.cosine(col("qemb"), col("embedding")) >= RangeTau)
      .groupBy("qid")
      .agg(count(lit(1)).as("n_in_range"), min(col("vec_id")).as("match_min_id"))
    qs.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_in_range"), lit(0L)).as("n_in_range"),
        coalesce(col("match_min_id"), lit(-1L)).as("match_min_id"),
        col("n_in_range").isNull.cast("int").as("novel"))
      .orderBy("qid")
  }

  lazy val s18Sql: String =
    s"""WITH $ExtqSql,
       |qs AS (
       | SELECT qid, qemb FROM extq
       | UNION ALL
       | SELECT vec_id + 900 AS qid, embedding AS qemb
       | FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
       |hits AS (
       | SELECT q.qid, count(*) AS n_in_range, min(v.vec_id) AS match_min_id
       | FROM qs q JOIN embeddings v
       |   ON list_cosine_similarity(CAST(q.qemb AS DOUBLE[]),
       |                             CAST(v.embedding AS DOUBLE[])) >= $RangeTau
       | GROUP BY q.qid)
       |SELECT q.qid,
       | cast(coalesce(h.n_in_range, 0) AS bigint) AS n_in_range,
       | cast(coalesce(h.match_min_id, -1) AS bigint) AS match_min_id,
       | cast(h.n_in_range IS NULL AS int) AS novel
       |FROM qs q LEFT JOIN hits h ON q.qid = h.qid
       |ORDER BY q.qid""".stripMargin

  /** s17: EXTERNAL-query serving at the COMPRESSED tier — the full
    * production read path as one query, s10's machinery pointed at the
    * reference's actual input (an embedded user question that is not in
    * the index, conversationController.js:31-38): external batch
    * ([[externalQueries]]) → ranked coarse probes (nprobe=[[ExtNprobe]])
    * → integer ADC over the codes of probed lists ONLY → top-
    * [[IvfAdcShortlist]] shortlist → exact float re-rank → the top-k
    * ANSWER (qid, rank, neighbor). s15 is the brute-force serving truth
    * and s16 the recall audit; s17 is what the serving tier would
    * actually execute at 100 TB, where scanning full floats per query
    * (s15's plan) is the thing the compressed tier exists to avoid.
    *
    * Plan: the corpus is touched by two map-only passes (coarse assign,
    * PQ encode) + the probed-list candidate join (broadcast probes);
    * the re-rank attaches floats only to the (queries × shortlist)
    * sliver. ADC scores are exact integers (the PqCodebook micro-unit
    * discipline), so shortlist membership is engine-exact; the final
    * float re-rank rides the family's rank-stability contract (the
    * asymmetric 3:1 query blend separates parents far above float
    * noise, the s15 precedent). */
  def s17ExternalAdcServe(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    adcServeFrame(s, dir, k, labels = None)

  /** s20's namespace filter — the s5 metadata predicate at this tier. */
  val ServeLabels: Seq[Int] = Seq(1, 2, 3)

  /** s20: FILTERED serving at the COMPRESSED tier — the s5 metadata
    * predicate composed with the s17 read path, which is the actual
    * production query shape (Pinecone `index.query({vector, filter})`
    * against a quantized index: every serving read is both filtered
    * and compressed; s5 measures the filter at full float, s17 the
    * compression unfiltered — this closes the matrix). Semantics
    * pinned by the spec: the IVF probe and the PQ codebook come from
    * the FULL store (one codebook serves every tenant — filters vary
    * per query, codebooks don't), the label predicate prunes the CODES
    * side before ADC scoring (label is a plain parquet column, so the
    * filter is scan-resident on the code store), and the exact re-rank
    * touches only the filtered shortlist sliver. Equal to
    * s5FilteredTopKFor's brute-force answer wherever the probe recalls
    * it (spec-measured), and the oracle pins the full composition. */
  def s20FilteredAdcServe(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    adcServeFrame(s, dir, k, labels = Some(ServeLabels))

  /** Filtered probes widen: namespace members scatter across the IVF
    * lists, so a filtered read at nprobe=2 recalls measurably less than
    * the unfiltered path (0.56 vs the s16-measured unfiltered number at
    * sf0.001) — the standard selective-search compensation is a higher
    * nprobe for filtered queries, paid only on the pruned code sliver. */
  val FilteredNprobe = 4

  private def adcServeFrame(s: SparkSession, dir: String, k: Int,
      labels: Option[Seq[Int]]): DataFrame = {
    val nprobe = if (labels.isDefined) FilteredNprobe else ExtNprobe
    import graft.sources.PqCodebook
    import graft.functions.{PqExpressions => PQ}
    val eAll = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val e = eAll.select("vec_id", "embedding")
    // the label predicate prunes the stored-code side only: codebooks and
    // probes are whole-store artifacts, the tenant filter is per-query
    val eServe = labels.fold(eAll)(ls => eAll.filter(col("label").isin(ls: _*)))
      .select("vec_id", "embedding")
    val qs = externalQueries(s, dir).localCheckpoint()
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val ccb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = eServe.crossJoin(broadcast(ccb))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
    val cents = PqCodebook.train(e, IvfAdcK).withColumn("kcb", lit(IvfAdcK)).localCheckpoint()
    val pcb = PqCodebook.kbsRow(cents, Seq(IvfAdcK))
    val codes = assigned.crossJoin(broadcast(pcb))
      .select(col("vec_id"), col("cid"),
        PQ.encode(col("embedding"), element_at(col("kbs"), 1)).as("codes"))
    val qt = qs.crossJoin(broadcast(pcb))
      .select(col("qid"), PQ.adcTable(col("qemb"), element_at(col("kbs"), 1)).as("tbls"))
    val probes = qs.crossJoin(broadcast(cent))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("cemb")), col("cid"), nprobe).as("pcids"),
           first(col("qemb")).as("qemb"))
      .select(col("qid"), col("qemb"), explode(col("pcids")).as("pcid"))
      .join(qt, Seq("qid"))
    val short = codes.join(broadcast(probes), col("cid") === col("pcid"))
      .select(col("qid"), col("qemb"), col("vec_id"),
        PQ.adcScore(col("codes"), col("tbls")).cast("double").as("score"))
      .groupBy("qid")
      .agg(TopK.topKByScore(col("score"), col("vec_id"), IvfAdcShortlist).as("short"),
           first(col("qemb")).as("qemb"))
    val sliver = short.select(col("qid"), col("qemb"), explode(col("short")).as("nbr"))
    explodeRanks(e.join(broadcast(sliver), col("vec_id") === col("nbr"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), k).as("nbrs")))
  }

  /** Oracle: extq + the s10 coarse/PQ CTEs, with the query-side ADC
    * table built from the EXTERNAL vectors (same micro-unit
    * quantization), shortlist by exact integer score, exact re-rank. */
  lazy val s17Sql: String = adcServeSql("")

  /** s20's oracle = the same composition with the tenant predicate on
    * the stored-code side (codebook/probes stay whole-store). */
  lazy val s20Sql: String =
    adcServeSql(s" WHERE e.label IN (${ServeLabels.mkString(", ")})")

  private def adcServeSql(labelPred: String): String = {
    import graft.sources.PqCodebook
    val nprobe = if (labelPred.nonEmpty) FilteredNprobe else ExtNprobe
    val sub = PqCodebook.Sub
    val ip = (1 to sub).map(j => s"q.xm[$j] * c.cent[$j]").mkString(" + ")
    s"""WITH $ExtqSql,
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
       |assigned AS (
       | SELECT e.vec_id, c.cid
       | FROM embeddings e CROSS JOIN cent c$labelPred
       | QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1),
       |probes AS (
       | SELECT q.qid, c.cid FROM extq q CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY q.qid
       |   ORDER BY list_cosine_similarity(q.qemb, c.cemb) DESC, c.cid ASC) <= $nprobe),
       |pts AS (${PqCodebook.ptsSql()}),
       |${PqCodebook.trainSql("p", IvfAdcK)},
       |${PqCodebook.encodeSql("p")},
       |qpts AS (
       | SELECT qid, m,
       |  list_transform(list_slice(qemb, m*$sub+1, m*$sub+$sub),
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT)) AS xm
       | FROM extq CROSS JOIN (SELECT unnest(range(${PqCodebook.M})) AS m) ms),
       |qtbl AS (
       | SELECT q.qid, c.m, c.c, $ip AS t
       | FROM qpts q JOIN pcent${PqCodebook.Iters} c ON c.m = q.m),
       |cand AS (
       | SELECT p.qid, cd.vec_id AS neighbor, sum(t.t) AS score
       | FROM pcodes cd
       | JOIN assigned a ON a.vec_id = cd.vec_id
       | JOIN probes p ON p.cid = a.cid
       | JOIN qtbl t ON t.qid = p.qid AND t.m = cd.m AND t.c = cd.code
       | GROUP BY p.qid, cd.vec_id),
       |short AS (
       | SELECT qid, neighbor FROM cand
       | QUALIFY row_number() OVER (PARTITION BY qid
       |   ORDER BY score DESC, neighbor ASC) <= $IvfAdcShortlist)
       |SELECT s.qid,
       | row_number() OVER (PARTITION BY s.qid
       |   ORDER BY list_cosine_similarity(q.qemb, ve.embedding) DESC, s.neighbor ASC) AS rank,
       | s.neighbor
       |FROM short s JOIN extq q ON q.qid = s.qid JOIN embeddings ve ON ve.vec_id = s.neighbor
       |QUALIFY rank <= 5
       |ORDER BY s.qid, rank""".stripMargin
  }

  /** s2: LSH-bucketed ANN — random-hyperplane bucket equality prunes the
    * candidate set before exact scoring (the 100 TB serving path). */
  def s2LshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      .withColumn("bucket", lshBucket(col("embedding")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("bucket").as("qbucket"))
    val grouped = e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs"))
    explodeRanks(grouped)
  }

  /** s3: blocked kNN self-join — top-3 neighbors per vector within its
    * label block. Shuffle partitions by label; at scale a skewed label is
    * handled by AQE skew-join or salting the block key. */
  def s3KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val r = e.select(col("vec_id").as("r_id"), col("label").as("r_label"),
      col("embedding").as("r_emb"))
    // label has ~10 distinct values: a shuffled join would bottleneck on
    // 10 skewed partitions. The block table is broadcast (each block fits
    // by construction; at 100 TB you bucket/salt instead) so the probe
    // side keeps full partition parallelism and there is no shuffle.
    val grouped = e.join(broadcast(r), col("label") === col("r_label") && col("vec_id") =!= col("r_id"))
      .groupBy(col("vec_id").as("qid"))
      .agg(TopK.topKByScore(V.cosine(col("embedding"), col("r_emb")), col("r_id"), 3).as("nbrs"))
    explodeRanks(grouped)
  }

  /** s3 registered default: exact-collapse before the quadratic stage.
    * Identical (label, embedding) rows group once, and cosine is
    * evaluated per DISTINCT-vector group pair — under duplicate
    * multiplicity m the naive form pays m² scores per distinct pair,
    * this form pays one. Exactness of the top-k reconstruction:
    * duplicate neighbors share a score and rank by vec_id ASC (the
    * TopKByScore tie-break, same as the oracle's ORDER BY), so (a) only
    * a neighbor group's first k+1 ids can ever appear in any query's
    * top k — at most ONE candidate (the query itself) is excluded, and
    * only from the query's own group — and (b) a per-query-group top
    * k+1 over those sliced candidates contains every member query's top
    * k after self-removal. The per-query step is then a bounded
    * array filter + slice, no scoring. Identical output to
    * [[s3KnnJoin]] (spec-asserted; the sf1 decade put the naive form at
    * 93× sf0.1's time — quadratic in multiplicity — where this form
    * stays flat). */
  def s3KnnJoinCollapsed(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    s3KnnJoinCollapsedFrame(
      Tables.embeddings(s, dir).select("vec_id", "label", "embedding"), k)

  /** Corpus-parameterized body of [[s3KnnJoinCollapsed]] — split out so
    * specs can exercise the duplicate-multiplicity paths on a corpus
    * with planted identical vectors (the raw embeddings table has none). */
  private[operators] def s3KnnJoinCollapsedFrame(e: DataFrame, k: Int): DataFrame = {
    val g = e.groupBy(col("label"), col("embedding"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
    val q = g.select(col("label"), col("embedding").as("q_emb"), col("ids").as("q_ids"))
    val v = g.select(col("label").as("label_b"), col("embedding").as("v_emb"),
      slice(col("ids"), 1, k + 1).as("v_ids"))
    val cands = q.join(broadcast(v), col("label") === col("label_b"))
      .select(col("q_ids"), V.cosine(col("q_emb"), col("v_emb")).as("cos"),
        explode(col("v_ids")).as("nbr"))
      .groupBy(col("q_ids"))
      .agg(TopK.topKByScore(col("cos"), col("nbr"), k + 1).as("cands"))
    val grouped = cands
      .select(explode(col("q_ids")).as("qid"), col("cands"))
      .select(col("qid"),
        slice(expr("filter(cands, c -> c != qid)"), 1, k).as("nbrs"))
    explodeRanks(grouped)
  }

  /** s4: IVF-style ANN — vectors with vec_id<8 act as the coarse
    * centroid codebook; every vector is assigned to its nearest centroid,
    * and a query probes only its own centroid's inverted list before
    * exact scoring.
    *
    * The assignment is MAP-ONLY: the codebook collapses to a one-row
    * (cids, cembs) pair of arrays (sorted by cid), broadcast to every
    * partition, and the per-vector argmax runs inside whole-stage codegen
    * (graft.functions.NearestIndex) — no |codebook|×N join rows, no
    * window, no shuffle of the corpus. IVF's whole point is that coarse
    * assignment is one scan; the round-1 cross-join + row_number argmax
    * shuffled 8×|corpus| rows to compute the same thing. Probe cost is
    * |inverted list|, not |corpus|. */
  def s4IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    // one-row codebook: sort_array on struct(cid, emb) orders by cid, so
    // NearestIndex's lowest-index tie-break is the "cos DESC, cid ASC"
    // argmax the oracle computes. The single-row aggregate moves 8 rows.
    val cb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("cid").as("qcid"))
    val grouped = assigned.join(broadcast(q),
        col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs"))
    explodeRanks(grouped)
  }

  val s4Sql: String =
    """WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
      |assigned AS (
      | SELECT e.vec_id, e.embedding, c.cid
      | FROM embeddings e CROSS JOIN cent c
      | QUALIFY row_number() OVER (PARTITION BY e.vec_id
      |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1)
      |SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor
      |FROM assigned q JOIN assigned v ON q.cid = v.cid AND v.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** s5: metadata-FILTERED ANN — the Pinecone query shape with a
    * namespace/metadata predicate (`index.query({filter: {...}})`,
    * the reference's per-tenant retrieval in
    * customTrainDataController.js: the retriever only searches the
    * caller's namespace). The label predicate is applied BEFORE any
    * scoring, and because `label` is a plain parquet column the filter
    * reaches the scan (`PushedFilters: In(label, ...)`), so the corpus
    * read itself shrinks — at 100 TB a filtered query scans only the
    * matching row groups (or, with the label as a partition key, only
    * the matching partitions). Scoring and top-k are the s1 shape:
    * codegen'd cosine into the bounded TopKByScore aggregate. */
  def s5FilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val corpus = e.filter(col("label").isin(1, 2, 3)) // the metadata filter
      .select("vec_id", "embedding")
    bruteTopKFrame(corpus, q, 5, excludeSelf = true)
  }

  /** [[s5FilteredTopK]] for an EXTERNAL (qid, qemb) batch — the actual
    * Pinecone shape: `index.query({vector, filter})` with a caller-
    * supplied vector. Same pushed label filter, no self-exclusion. */
  def s5FilteredTopKFor(s: SparkSession, dir: String, queries: DataFrame,
      labels: Seq[Int] = Seq(1, 2, 3), k: Int = 5): DataFrame =
    bruteTopKFrame(
      Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
        .filter(col("label").isin(labels: _*)).select("vec_id", "embedding"),
      queries, k, excludeSelf = false)

  val s5Sql: String =
    """SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor
      |FROM embeddings q JOIN embeddings v
      |  ON v.vec_id <> q.vec_id AND v.label IN (1, 2, 3)
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** v3: index statistics (Pinecone describeIndexStats, which the
    * reference calls before namespace operations): per-namespace vector
    * counts plus the index dimension, in one map-side-combined
    * aggregation — group-count-bound shuffle (one row per label per
    * partition), and the dimension check rides the same pass instead of
    * a separate scan. */
  def v3IndexStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
      .groupBy("label")
      .agg(count(lit(1)).as("vector_count"),
           min(size(col("embedding"))).as("dim_min"),
           max(size(col("embedding"))).as("dim_max"),
           sum(col("vec_id")).as("id_checksum"))
      .orderBy("label")

  val v3Sql: String =
    """SELECT label, count(*) AS vector_count,
      | min(len(embedding)) AS dim_min, max(len(embedding)) AS dim_max,
      | cast(sum(vec_id) AS bigint) AS id_checksum
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** v4: per-namespace centroid of the stored vectors — the "describe
    * namespace" / cluster-summary aggregate (and the building block IVF
    * codebook training iterates). Fixed-point contract: each component
    * is floored to integer micros BEFORE the sum, so the aggregation is
    * exact-integer and order-independent, and the per-dimension mean is
    * one IEEE divide + floor at the end — floats never cross the engine
    * boundary (repo rule; cf. Quality.t12Tfidf).
    *
    * Scale: posexplode emits dim-many rows per vector, but the shuffle
    * after the map-side-combined agg is (labels × dim)-bound — the
    * vectors themselves never move. */
  def v4LabelCentroid(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("label", "embedding")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 1e6)).as("sum_micro"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
        floor(col("sum_micro").cast("double") / col("n")).as("centroid_micro"))
      .orderBy("label", "dim")

  val v4Sql: String =
    """WITH ex AS (
      | SELECT label, unnest(embedding) AS v, unnest(range(len(embedding))) AS dim
      | FROM embeddings)
      |SELECT label, dim, count(*) AS n,
      | cast(floor(cast(sum(cast(floor(cast(v AS double) * 1e6) AS bigint)) AS double)
      |            / count(*)) AS bigint) AS centroid_micro
      |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** v1: Pinecone-style upsert (embeddingController.addEmbeddedText /
    * updateEmbeddedText): merge an update batch into the (vec_id)-keyed
    * store, latest-wins, then per-label counts. */
  def v1Upsert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir).select("vec_id", "label")
    val base = e.withColumn("pri", lit(0))
    val updates = e.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), (col("label") + 100).as("label")).withColumn("pri", lit(1))
    val w = Window.partitionBy("vec_id").orderBy(col("pri").desc)
    base.unionByName(updates)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("label").agg(count(lit(1)).as("cnt"))
      .orderBy("label")
  }

  /** v2: namespace delete (embeddingController.deleteNamespaceEmbeddings):
    * drop labels {3,7}, report surviving per-label counts + id checksum. */
  def v2DeleteNamespace(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("vec_id", "label")
      .filter(!col("label").isin(3, 7))
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"), sum(col("vec_id")).as("id_checksum"))
      .orderBy("label")

  /** The id batch a delete request carries (a request payload is small by
    * construction — the reference's is a JSON array of Pinecone ids). */
  val DeleteIds: Seq[Long] = 0L until 500L by 13L

  /** The namespace the delete is scoped to. */
  val DeleteNamespace = 4

  /** v5: delete-by-ids (embeddingController.js:103 →
    * embeddingmodel.deleteEmbeddingsByIds): drop an explicit id batch
    * WITHIN one namespace, report surviving per-label counts + id
    * checksum. The id list is a literal predicate — `NOT (label = ns AND
    * vec_id IN (...))` — so the scan keeps its pushed filter shape
    * (ids absent at a given SF are no-ops, exactly like Pinecone's
    * delete). The on-disk variant that rewrites only the affected
    * partitions is [[graft.sources.VectorStoreSink.deleteByIds]]. */
  def v5DeleteByIds(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select("vec_id", "label")
      .filter(!(col("label") === DeleteNamespace && col("vec_id").isin(DeleteIds: _*)))
      .groupBy("label")
      .agg(count(lit(1)).as("cnt"), sum(col("vec_id")).as("id_checksum"))
      .orderBy("label")

  val v5Sql: String =
    s"""SELECT label, count(*) AS cnt, cast(sum(vec_id) AS bigint) AS id_checksum
       |FROM embeddings
       |WHERE NOT (label = $DeleteNamespace AND vec_id IN (${DeleteIds.mkString(", ")}))
       |GROUP BY label ORDER BY label""".stripMargin

  /** Id batch fetched by [[v6FetchByIds]]; 999999 is deliberately absent
    * (Pinecone's fetch returns only the found ids — an absent id is a
    * silent omission, not an error row). */
  val FetchIds: Seq[Long] = Seq(3L, 17L, 42L, 999999L)

  /** v6: FETCH by ids — the one Pinecone verb the registered surface
    * had not yet exposed (the reference's SDK set: upsert v1, query s*,
    * update v1's latest-wins, deleteByIds v5, deleteNamespace v2,
    * describeIndexStats v3; fetch is how a serving tier re-reads
    * specific vectors, e.g. for the re-rank tier or debugging a
    * retrieval). Point reads on a columnar store must NOT scan the
    * store: the id batch is a literal `isin` predicate pushed into the
    * parquet scan (plan-asserted PushedFilters), so only row groups
    * whose stats overlap the ids are read — and on the vec_id-sorted /
    * bucketed layout a real deployment uses, that is a handful of
    * pages at any store size. Output carries the namespace, dimension
    * and an exact integer micro-checksum of the vector payload (the
    * cross-engine receipt for "the same bytes came back"). */
  def v6FetchByIds(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id").isin(FetchIds: _*))
      .select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        expr("aggregate(embedding, 0L, (a, x) -> a + cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("emb_checksum"))
      .orderBy("vec_id")

  val v6Sql: String =
    s"""SELECT vec_id, label, cast(len(embedding) AS bigint) AS dim,
       | cast(list_sum(list_transform(embedding,
       |        x -> cast(floor(cast(x AS double) * 1e6) AS bigint))) AS bigint) AS emb_checksum
       |FROM embeddings WHERE vec_id IN (${FetchIds.mkString(", ")})
       |ORDER BY vec_id""".stripMargin

  /** v8's id-receipt modulus — the q42 overflow-free discipline. */
  val UpdateChecksumP = 1000000007L

  /** v8: UPDATE — Pinecone's partial-update verb
    * (`index.update({id, setMetadata})`): re-label a batch of stored
    * vectors WITHOUT touching their payloads (v1's upsert replaces the
    * whole row; this is the metadata-only patch — the q23 $set shape on
    * the vector store). The patch is every 11th id moving up 50 labels;
    * the report is the post-image per-label audit: vector count, the
    * modular id receipt, and the exact integer payload-checksum MASS —
    * the "payloads did not move" proof, since every vector's
    * micro-checksum (v6's receipt expression) lands unchanged in its
    * NEW label's row and the global checksum total is conserved
    * (spec-asserted against the pre-image).
    *
    * Plan: the patch frame derives from a pushed scan filter and
    * BROADCASTS into a left join (the 100 TB store never shuffles for a
    * patch batch — q23's rule); the merge is row-local coalesce; the
    * audit is one |labels|-bound map-combined aggregate. */
  def v8UpdateMetadata(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val patches = e.filter(col("vec_id") % 11 === 0)
      .select(col("vec_id").as("pk"), (col("label") + 50).as("new_label"))
    e.join(broadcast(patches), col("vec_id") === col("pk"), "left")
      .select(col("vec_id"),
        coalesce(col("new_label"), col("label")).as("label"),
        expr("aggregate(embedding, 0L, (a, x) -> a + cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("pcheck"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        (sum((col("vec_id") % UpdateChecksumP).cast("decimal(38,0)"))
          % UpdateChecksumP).cast("long").as("id_receipt"),
        sum(col("pcheck").cast("decimal(38,0)")).cast("long").as("payload_mass"))
      .orderBy("label")
  }

  val v8Sql: String =
    s"""WITH patches AS (
       | SELECT vec_id AS pk, label + 50 AS new_label
       | FROM embeddings WHERE vec_id % 11 = 0),
       |merged AS (
       | SELECT e.vec_id, coalesce(p.new_label, e.label) AS label,
       |  list_sum(list_transform(e.embedding,
       |    x -> cast(floor(cast(x AS double) * 1e6) AS bigint))) AS pcheck
       | FROM embeddings e LEFT JOIN patches p ON e.vec_id = p.pk)
       |SELECT label, count(*) AS n_vectors,
       | cast(cast(sum(vec_id % $UpdateChecksumP) AS hugeint)
       |   % $UpdateChecksumP AS bigint) AS id_receipt,
       | cast(sum(pcheck) AS bigint) AS payload_mass
       |FROM merged GROUP BY label ORDER BY label""".stripMargin

  /** v7's page geometry: namespace, id prefix, keyset cursor, page. */
  val ListNamespace = 3
  val ListIdPrefix = "1"
  val ListAfterId = 150L
  val ListPageSize = 10

  /** v7: LIST vector ids — the last Pinecone verb
    * (`index.listPaginated({prefix, paginationToken, limit})`): page
    * through a namespace's ids matching a string PREFIX, resuming from
    * a pagination token. The token is KEYSET (the last id of the
    * previous page), never OFFSET — an offset page at depth d re-scans
    * d rows on every request, a keyset page is one range probe
    * (SURVEY §5's q6 rule; Pinecone's own token works the same way).
    *
    * Plan: namespace equality, the keyset bound, and (as a startsWith)
    * the prefix all PUSH into the parquet scan; the page cut is
    * TakeOrderedAndProject over the pruned sliver — no global sort
    * exchange at any store size. */
  def v7ListVectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("label") === ListNamespace &&
        col("vec_id") > ListAfterId &&
        col("vec_id").cast("string").startsWith(ListIdPrefix))
      .select(col("vec_id"), col("vec_id").cast("string").as("id_str"),
        col("label"), size(col("embedding")).cast("long").as("dim"))
      .orderBy("vec_id")
      .limit(ListPageSize)

  val v7Sql: String =
    s"""SELECT vec_id, cast(vec_id AS varchar) AS id_str, label,
       | cast(len(embedding) AS bigint) AS dim
       |FROM embeddings
       |WHERE label = $ListNamespace AND vec_id > $ListAfterId
       |  AND starts_with(cast(vec_id AS varchar), '$ListIdPrefix')
       |ORDER BY vec_id LIMIT $ListPageSize""".stripMargin

  /** s11: SCALAR-QUANTIZED (SQ8) top-k — the third compression point on
    * the serving curve after full-float (s1) and PQ (s8/s9): every
    * dimension is affinely mapped to one byte against the corpus-global
    * [min, max] range (FAISS `ScalarQuantizer QT_8bit`-style, uniform
    * trained range), and search ranks by the exact INTEGER dot product
    * in code space. 64 B/vector (4× smaller than float32, 3× larger
    * than s9's 20 B PQ codes) with far better fidelity than PQ at the
    * same simplicity — the operating point a 100 TB store usually
    * ships first, because quantization is a pure map (no codebook
    * training job) and distances stay SIMD/codegen-trivial.
    *
    * Search scores the RECONSTRUCTED vectors (x̂ᵢ = mn + (2cᵢ+1)·Δ/2,
    * the cell midpoint, FAISS's reconstruct convention) with the same
    * cosine machinery as s1 — NOT the raw integer dot in code space,
    * which an affine quantizer does not order-preserve (the -mn·Σy
    * cross term varies per candidate and scrambles ranks; measured
    * recall 0.02 before this fix). Determinism across engines: the
    * quantize→dequantize round trip is the same double arithmetic in
    * the DuckDB twin and lands on a FLOAT32 value (one final exact
    * rounding), so both engines feed bit-identical float arrays into
    * the s1-proven cosine comparison.
    *
    * Scale shape: the [mn, mx] range is ONE two-value broadcast row,
    * localCheckpoint'd because BOTH join sides consume it — without the
    * pin each side re-derives the full range scan (observed as a third
    * corpus pass in the physical plan); at 100 TB the range fit rides a
    * bounded sample anyway. Quantization + scoring are map-only against
    * the broadcast query set; top-k via the bounded aggregate —
    * identical shuffle profile to s1 (O(partitions × queries × k)). A
    * degenerate constant corpus (mx = mn) would divide by zero — a real
    * deployment guards that once at range-fit time. */
  def s11Sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val (deq, _) = s11Dequantized(s, dir)
    val q = deq.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("dq").as("qdq"))
    val grouped = deq.join(broadcast(q), col("vec_id") =!= col("qid"))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qdq"), col("dq")), col("vec_id"), 5).as("nbrs"))
    explodeRanks(grouped)
  }

  /** The SQ8-dequantized corpus plus its pinned [mn, mx] range row —
    * shared by the self-query fixture and the external variant. */
  private def s11Dequantized(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val rng = e.agg(
      min(array_min(col("embedding"))).cast("double").as("mn"),
      max(array_max(col("embedding"))).cast("double").as("mx"))
      .localCheckpoint()
    val sq8 =
      """transform(
        |  transform(%s, x -> cast(floor((cast(x as double) - mn) * 255e0 / (mx - mn)) as bigint)),
        |  c -> cast(mn + cast(2 * c + 1 as double) * (mx - mn) / 510e0 as float))""".stripMargin
    val deq = e.crossJoin(broadcast(rng))
      .select(col("vec_id"), expr(sq8.format("embedding")).as("dq"))
    (deq, rng)
  }

  /** [[s11Sq8TopK]] for an EXTERNAL (qid, qemb) batch: the query is
    * quantized against the SAME stored corpus range (the symmetric-SQ
    * serving shape — the stored range is part of the index artifact).
    * A deployment guards out-of-range query components at quantize
    * time; the generated external batch is in range by construction
    * (means of stored vectors). */
  def s11Sq8TopKFor(s: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5): DataFrame = {
    val (deq, rng) = s11Dequantized(s, dir)
    val sq8 =
      """transform(
        |  transform(%s, x -> cast(floor((cast(x as double) - mn) * 255e0 / (mx - mn)) as bigint)),
        |  c -> cast(mn + cast(2 * c + 1 as double) * (mx - mn) / 510e0 as float))""".stripMargin
    val q = queries.crossJoin(broadcast(rng))
      .select(col("qid"), expr(sq8.format("qemb")).as("qdq"))
    explodeRanks(deq.crossJoin(broadcast(q))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qdq"), col("dq")), col("vec_id"), k).as("nbrs")))
  }

  val s11Sql: String =
    """WITH rng AS (
      | SELECT cast(min(list_min(embedding)) AS double) AS mn,
      |        cast(max(list_max(embedding)) AS double) AS mx
      | FROM embeddings),
      |deq AS (
      | SELECT vec_id,
      |  list_transform(
      |   list_transform(embedding,
      |    x -> cast(floor((cast(x AS double) - mn) * 255e0 / (mx - mn)) AS bigint)),
      |   c -> cast(mn + cast(2 * c + 1 AS double) * (mx - mn) / 510e0 AS real)) AS dq
      | FROM embeddings CROSS JOIN rng)
      |SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(q.dq, v.dq) DESC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor
      |FROM deq q JOIN deq v ON v.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** s6: ANN RECALL EVALUATION — the index-tuning loop every vector
    * deployment runs: score each approximate method (s2's LSH buckets,
    * s4's IVF probe) against s1's brute-force ground truth and report
    * recall@k in exact integer ppm. This is how nlist/nprobe/band
    * hyperparameters actually get chosen; making it a first-class query
    * means the evaluation runs where the index lives instead of in a
    * notebook. It is also the evidence for the repo's HNSW substitution
    * (the reference serves hnswlib; this engine bulk-builds LSH/IVF —
    * decision record in SURVEY.md §4): the substitution is measured
    * here, and tuned by [[s7TuningCurve]].
    *
    * Scale: the underlying queries are sample-bound by construction
    * (queries × k rows each); the hit-counting joins and the one-row
    * totals all operate on those slivers, so the eval adds nothing
    * corpus-shaped beyond the index queries it measures.
    *
    * The brute-force ground truth — the O(queries × corpus) scan that
    * dominates the eval's cost — is materialized ONCE (localCheckpoint
    * of a queries × k sliver) and every downstream reference reads the
    * materialized rows; without this, the truth subtree would be inlined
    * at each of its references and the most expensive scan in the query
    * would run once per reference (plan-asserted: the s6 physical plan
    * holds exactly two RDD scans — the one truth sliver, read once per
    * method — and no duplicated brute-force subtree;
    * SimilarityPlanSpec). Each method row then needs truth only once:
    * hits and total come from a single left join + one aggregate over
    * the sliver (count(*) = |truth|, count(hit) = |approx ∩ truth|). */
  def s6RecallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = s1BruteForceTopK(s, dir).select("qid", "neighbor").localCheckpoint()
    def row(method: String, approx: DataFrame): DataFrame =
      truth.join(approx.select(col("qid"), col("neighbor"), lit(1).as("hit")),
          Seq("qid", "neighbor"), "left")
        .agg(count(col("hit")).as("hits"), count(lit(1)).as("total"))
        .select(lit(method).as("method"), col("hits"), col("total"),
          expr("hits * 1000000 div total").as("recall_ppm"))
    row("ivf", s4IvfTopK(s, dir))
      .unionByName(row("lsh", s2LshTopK(s, dir)))
      .orderBy("method")
  }

  /** s7's parameter grids. */
  val IvfNprobes: Seq[Int] = Seq(1, 2, 4, 8)
  val LshPlaneCounts: Seq[Int] = Seq(4, 6, 8)

  /** s7: RECALL/LATENCY TUNING CURVE — the sweep that actually chooses
    * an ANN deployment's hyperparameters, as one first-class query
    * instead of a notebook loop: IVF probed at nprobe ∈ {1,2,4,8} and
    * LSH bucketed at {4,6,8} hyperplanes, each scored against the s1
    * brute-force ground truth. Output: (method, param, hits, total,
    * recall_ppm) — the curve an operator reads the knee off.
    *
    * Scale: the s6 materialization discipline throughout — the truth
    * sliver and the IVF assignment (the inverted-file index — built
    * ONCE, probed once per nprobe, exactly how a real index amortizes
    * across parameter sweeps) are localCheckpoint'd; each parameter
    * point adds only its probe-sized join (candidate lists for IVF,
    * one bucket-equality join per plane count for LSH — the three LSH
    * bucket ids ride one scan). Nothing corpus-sized is broadcast;
    * everything is (params × queries × k)-bound past the one
    * assignment pass.
    *
    * Invariant (spec-asserted): recall is monotone non-decreasing in
    * nprobe, and nprobe = nlist = 8 probes every list — brute force by
    * construction, recall_ppm = 1000000 exactly. LSH recall is monotone
    * non-increasing in plane count (finer buckets admit fewer
    * candidates). */
  def s7TuningCurve(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val truth = s1BruteForceTopK(s, dir).select("qid", "neighbor").localCheckpoint()
    def recallRow(method: String, param: Int, approx: DataFrame): DataFrame =
      truth.join(approx.select(col("qid"), col("neighbor"), lit(1).as("hit")),
          Seq("qid", "neighbor"), "left")
        .agg(count(col("hit")).as("hits"), count(lit(1)).as("total"))
        .select(lit(method).as("method"), lit(param.toLong).as("param"),
          col("hits"), col("total"),
          expr("hits * 1000000 div total").as("recall_ppm"))

    // IVF: the s4 deterministic codebook (vec_id < 8); assignment = the
    // index build, materialized once and probed at every nprobe
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val cb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
      .localCheckpoint()
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    // per query: ALL centroids ranked once (queries × nlist rows); each
    // nprobe point just filters the rank
    val qc = queries.crossJoin(broadcast(cent))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("cemb")), col("cid"), 8).as("ranked"),
           first(col("qemb")).as("qemb"))
      .select(col("qid"), col("qemb"), posexplode(col("ranked")).as(Seq("r0", "pcid")))
      .select(col("qid"), col("qemb"), (col("r0") + 1).as("crank"), col("pcid"))
    def ivfAt(n: Int): DataFrame = {
      val probes = qc.filter(col("crank") <= n).select("qid", "qemb", "pcid")
      val grouped = assigned.join(broadcast(probes),
          col("cid") === col("pcid") && col("vec_id") =!= col("qid"))
        .groupBy("qid")
        .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs"))
      explodeRanks(grouped).select("qid", "neighbor")
    }

    // LSH: all three bucket granularities ride ONE corpus projection
    val bucketed = e.select(Seq(col("vec_id"), col("embedding")) ++
      LshPlaneCounts.map(p => lshBucket(col("embedding"), p).as(s"b$p")): _*)
    val qb = bucketed.filter(col("vec_id") < 10)
    def lshAt(p: Int): DataFrame = {
      val q = qb.select(Seq(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col(s"b$p").as("qbucket")): _*)
      val grouped = bucketed.join(broadcast(q),
          col(s"b$p") === col("qbucket") && col("vec_id") =!= col("qid"))
        .groupBy("qid")
        .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), 5).as("nbrs"))
      explodeRanks(grouped).select("qid", "neighbor")
    }

    (IvfNprobes.map(n => recallRow("ivf", n, ivfAt(n))) ++
     LshPlaneCounts.map(p => recallRow("lsh", p, lshAt(p))))
      .reduce(_ unionByName _)
      .orderBy("method", "param")
  }

  /** Oracle: same grids, each point a brute-force SQL recompute (the
    * oracle is allowed to be O(grid × corpus) — it is the referee, not
    * the plan). */
  lazy val s7Sql: String = {
    val ivfParts = IvfNprobes.map { n =>
      s"""SELECT 'ivf' AS method, $n AS param, count(*) AS hits
         |FROM (
         |  SELECT p.qid, v.vec_id AS neighbor
         |  FROM probes p
         |  JOIN assigned v ON v.cid = p.cid AND v.vec_id <> p.qid
         |  JOIN embeddings qe ON qe.vec_id = p.qid
         |  WHERE p.crank <= $n
         |  QUALIFY row_number() OVER (PARTITION BY p.qid
         |    ORDER BY list_cosine_similarity(qe.embedding, v.embedding) DESC,
         |             v.vec_id ASC) <= 5
         |) r JOIN truth t ON r.qid = t.qid AND r.neighbor = t.neighbor""".stripMargin
    }
    val lshParts = LshPlaneCounts.map { p =>
      s"""SELECT 'lsh' AS method, $p AS param, count(*) AS hits
         |FROM (
         |  SELECT q.vec_id AS qid, v.vec_id AS neighbor
         |  FROM lshb q JOIN lshb v ON q.b$p = v.b$p AND v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC,
         |             v.vec_id ASC) <= 5
         |) r JOIN truth t ON r.qid = t.qid AND r.neighbor = t.neighbor""".stripMargin
    }
    val lshCols = LshPlaneCounts.map(p => s"${lshBucketSql("embedding", p)} AS b$p").mkString(",\n  ")
    s"""WITH truth AS ($s1Sql),
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
       |assigned AS (
       | SELECT e.vec_id, e.embedding, c.cid
       | FROM embeddings e CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1),
       |probes AS (
       | SELECT q.vec_id AS qid, c.cid,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(q.embedding, c.cemb) DESC, c.cid ASC) AS crank
       | FROM embeddings q CROSS JOIN cent c
       | WHERE q.vec_id < 10),
       |lshb AS (
       | SELECT vec_id, embedding,
       |  $lshCols
       | FROM embeddings),
       |tot AS (SELECT count(*) AS total FROM truth),
       |pts AS (
       |${(ivfParts ++ lshParts).mkString("\nUNION ALL\n")})
       |SELECT method, cast(param AS bigint) AS param, cast(hits AS bigint) AS hits,
       | cast(total AS bigint) AS total,
       | cast(hits * 1000000 // total AS bigint) AS recall_ppm
       |FROM pts CROSS JOIN tot ORDER BY method, param""".stripMargin
  }

  /** s8: inner-product product quantization with asymmetric distance
    * computation (PQ-ADC; Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 — the MIPS variant scores
    * inner product, the ScaNN lineage). The 64-dim embedding splits
    * into M=8 subspaces of 8 dims; per subspace, a vector is encoded
    * as the index of the codebook entry with the largest sub-vector dot
    * (ties → lowest cid, the library's standard tie-break). A corpus
    * vector is then EIGHT 3-bit codes instead of 256 bytes of floats —
    * the 100 TB memory story: the inverted-file payload shrinks ~85×
    * (byte-packed codes) and scoring never touches the original floats.
    *
    * Scale shape: the codebook is a one-row broadcast (the s4 pattern);
    * ENCODING is map-only (8 argmaxes over 8 sub-dots inside
    * whole-stage codegen); each query precomputes its 8×8 lookup table
    * ONCE (broadcast with the query set), and per corpus row the ADC
    * score is `aggregate(zip_with(codes, tbl, ...))` — 8 array lookups
    * and adds, zero multiplications. Top-k via the bounded TopKByScore
    * partials, so the shuffle is O(partitions × queries × k). The fold
    * runs in fixed subspace order, so the double sum is deterministic
    * and the DuckDB oracle replicates it term-by-term.
    *
    * Codebook here = the vec_id<8 vectors (deterministic, like s4's
    * coarse centroids) — the UNTRAINED ablation baseline of the PQ
    * family: [[s9PqTrained]] trains real per-subspace codebooks
    * (graft.sources.PqCodebook's deterministic integer Lloyd) and
    * measures the recall curve over codebook size (0.22 → 0.64 at
    * sf0.1), and [[s10IvfAdc]] composes them with the s4 inverted
    * lists into the full serving shape. Reference baseline: the
    * hnswlib retriever (controllers/customTrainDataController.js:56-62)
    * — s6/s7 measure the recall cost of such substitutions against s1
    * exact truth. */
  def s8PqAdc(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val M = 8; val sub = 8 // the 64-dim embeddings split 8 × 8
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cb = e.filter(col("vec_id") < 8)
      .groupBy()
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("embedding").as("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cemb)").as("cents"))
    // per-subspace dots of v against every codebook entry, in cid order
    def subScores(v: Column, m: Int): Column =
      transform(col("cents"), c => V.dot(slice(v, m * sub + 1, sub),
        slice(c, m * sub + 1, sub)))
    // argmax with lowest-index tie-break: array_position finds the FIRST
    // occurrence of the max (1-based; codes stay 1-based for element_at)
    def code(v: Column, m: Int): Column = {
      val ss = subScores(v, m)
      array_position(ss, array_max(ss)).cast("int")
    }
    val codes = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), array((0 until M).map(m => code(col("embedding"), m)): _*).as("codes"))
    val queries = e.filter(col("vec_id") < 10).crossJoin(broadcast(cb))
      .select(col("vec_id").as("qid"),
        array((0 until M).map(m => subScores(col("embedding"), m)): _*).as("tbl"))
    val grouped = codes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("score", expr(
        "aggregate(zip_with(codes, tbl, (c, t) -> element_at(t, c)), cast(0.0 as double), (acc, x) -> acc + x)"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("vec_id"), k).as("nbrs"))
    explodeRanks(grouped)
  }

  /** Oracle: the same encode → table → 8-term ADC sum in SQL. The sum
    * is written as eight explicit scalar additions in subspace order so
    * both engines fold the doubles identically; sub-vector dots cast to
    * DOUBLE[] to match DotProduct's float→double accumulation. */
  lazy val s8Sql: String = {
    val subDot = (a: String, b: String, m: String) =>
      s"list_inner_product(list_slice($a, $m*8+1, $m*8+8)::DOUBLE[], " +
        s"list_slice($b, $m*8+1, $m*8+8)::DOUBLE[])"
    val terms = (0 until 8).map(m => s"max(CASE WHEN t.m = $m THEN t.t END)")
      .mkString("(", " + ", ")")
    s"""WITH cents AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
       |ms AS (SELECT unnest(range(8)) AS m),
       |codes AS (
       | SELECT v.vec_id, m.m,
       |  (SELECT c.cid FROM cents c
       |   ORDER BY ${subDot("v.embedding", "c.embedding", "m.m")} DESC, c.cid ASC
       |   LIMIT 1) AS code
       | FROM embeddings v CROSS JOIN ms m),
       |tbl AS (
       | SELECT q.vec_id AS qid, m.m, c.cid,
       |  ${subDot("q.embedding", "c.embedding", "m.m")} AS t
       | FROM embeddings q CROSS JOIN ms m CROSS JOIN cents c
       | WHERE q.vec_id < 10),
       |scores AS (
       | SELECT t.qid, cd.vec_id AS neighbor, $terms AS score
       | FROM codes cd JOIN tbl t ON t.m = cd.m AND t.cid = cd.code AND cd.vec_id <> t.qid
       | GROUP BY t.qid, cd.vec_id)
       |SELECT qid, row_number() OVER (PARTITION BY qid
       |  ORDER BY score DESC, neighbor ASC) AS rank, neighbor
       |FROM scores QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** s9's codebook-size grid (codewords per subspace). */
  val PqKs: Seq[Int] = Seq(4, 8, 16, 32)

  /** s9: TRAINED product quantization — the recall curve over codebook
    * size that closes s8's quality gap. s8 demonstrates ADC mechanics
    * with the untrained first-8-vectors codebook (recall@5 ≈ 0.22 at
    * sf0.1); here the codebooks are TRAINED per subspace with the
    * deterministic integer Lloyd of graft.sources.PqCodebook (32
    * subspaces × 2 dims, 3 iterations — every step exact fixed-point
    * arithmetic, so the DuckDB oracle replicates training bit-for-bit),
    * and each codebook size k ∈ {4,8,16,32} is scored against the s1
    * brute-force truth: (method='pq', param=k, hits, total, recall_ppm).
    * Measured: recall@5 rises monotonically 0.22 → 0.64 at sf0.1
    * (spec-pinned non-decreasing, ≥ 0.6 at k=32) — at k=32 a code is
    * 20 B vs 256 B of floats, the ~13× compression a 100 TB corpus
    * banks while keeping usable recall. The quality path the reference
    * buys from its trained index
    * (customTrainDataController.js:56-62) — measured, not assumed.
    *
    * Scale shape: training reads the (bounded-sample at 100 TB)
    * subspace points, checkpointed ONCE and reused by all four
    * trainings; each training is a fixed-depth pure dataflow chain (no
    * driver loop control); encode is map-only against the one-row
    * broadcast codebook; ADC scores are exact integer sums (no float
    * fold); top-k via the bounded aggregate; every recall row is
    * (queries × k)-bound past the one encode pass. */
  def s9PqTrained(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.sources.PqCodebook
    import graft.functions.{PqExpressions => PQ}
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val truth = s1BruteForceTopK(s, dir).select("qid", "neighbor").localCheckpoint()
    val cents = PqCodebook.trainMany(e, PqKs).localCheckpoint()
    val kbs = PqCodebook.kbsRow(cents, PqKs)
    // ONE corpus pass encodes against every grid codebook; one query
    // pass builds every ADC table; scoring explodes per grid entry and
    // top-ks per (grid, query) in a single bounded aggregate
    val enc = e.crossJoin(broadcast(kbs))
      .select(col("vec_id"), array(PqKs.indices.map(i =>
        PQ.encode(col("embedding"), element_at(col("kbs"), i + 1))): _*).as("kcodes"))
    val queries = e.filter(col("vec_id") < 10).crossJoin(broadcast(kbs))
      .select(col("vec_id").as("qid"), array(PqKs.indices.map(i =>
        PQ.adcTable(col("embedding"), element_at(col("kbs"), i + 1))): _*).as("ktbls"))
    val approx = enc.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("vec_id"), col("qid"), posexplode(expr(
        "zip_with(kcodes, ktbls, (c, t) -> named_struct('c', c, 't', t))")).as(Seq("ki", "ct")))
      .select(col("ki"), col("qid"), col("vec_id"),
        PQ.adcScore(col("ct.c"), col("ct.t")).cast("double").as("score"))
      .groupBy("ki", "qid")
      .agg(TopK.topKByScore(col("score"), col("vec_id"), k).as("nbrs"))
      .select(col("ki"), col("qid"), explode(col("nbrs")).as("neighbor"))
    val hits = approx.join(truth, Seq("qid", "neighbor"), "left_semi")
      .groupBy("ki").agg(count(lit(1)).as("hits"))
    val tot = truth.agg(count(lit(1)).as("total"))
    s.range(PqKs.size).select(col("id").cast("int").as("ki"))
      .join(hits, Seq("ki"), "left").crossJoin(tot)
      .select(lit("pq").as("method"),
        element_at(typedlit(PqKs.map(_.toLong).toArray), col("ki") + 1).as("param"),
        coalesce(col("hits"), lit(0L)).as("hits"), col("total"))
      .withColumn("recall_ppm", expr("hits * 1000000 div total"))
      .orderBy("param")
  }


  /** Oracle: the full train → encode → score → recall pipeline in SQL —
    * possible because every training and scoring step is exact integer
    * arithmetic (PqCodebook's fixed-point contract), so no float
    * accumulation order ever crosses the engine boundary. */
  lazy val s9Sql: String = {
    import graft.sources.PqCodebook
    val perK = PqKs.map(k => PqCodebook.trainSql(s"k$k", k) + ",\n" + PqCodebook.scoreSql(s"k$k"))
    val rows = PqKs.map { k =>
      s"""SELECT 'pq' AS method, $k AS param, count(*) AS hits
         |FROM (SELECT qid, neighbor FROM k${k}scores
         |      QUALIFY row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, neighbor ASC) <= 5) a
         |JOIN truth t ON a.qid = t.qid AND a.neighbor = t.neighbor""".stripMargin
    }
    s"""WITH truth AS ($s1Sql),
       |pts AS (${PqCodebook.ptsSql()}),
       |${perK.mkString(",\n")},
       |tot AS (SELECT count(*) AS total FROM truth),
       |pq_rows AS (
       |${rows.mkString("\nUNION ALL\n")})
       |SELECT method, CAST(param AS BIGINT) AS param, CAST(hits AS BIGINT) AS hits,
       | CAST(total AS BIGINT) AS total,
       | CAST(hits * 1000000 // total AS BIGINT) AS recall_ppm
       |FROM pq_rows CROSS JOIN tot ORDER BY param""".stripMargin
  }

  /** s10's nprobe grid and PQ/shortlist constants. */
  val IvfAdcNprobes: Seq[Int] = Seq(1, 2, 4, 8)
  val IvfAdcK = 32
  val IvfAdcShortlist = 25

  /** s10: IVF-ADC COMPOSITION — the memory-and-latency shape a 100 TB
    * vector corpus actually serves from (Jégou et al. TPAMI'11's IVFADC
    * + the re-rank refinement): the coarse quantizer (s4's codebook)
    * routes each query to `nprobe` inverted lists, and inside the probed
    * lists scoring touches ONLY the 20-byte trained PQ codes (k=32,
    * graft.sources.PqCodebook) — the raw floats stay on disk. Per
    * (method, nprobe) the query reports recall@5 vs the s1 exact truth:
    *
    *  - `ivf_adc`: top-5 straight off the integer ADC scores — zero
    *    float reads at probe time;
    *  - `ivf_adc_rr`: ADC shortlists 25 candidates, then ONE bounded
    *    exact-cosine re-rank over the (queries × 25)-row sliver — the
    *    standard serving refinement; measured ≈ 0.98 recall@5 at
    *    full probe (sf0.1) for ~13× less hot memory than exact scan.
    *
    * Scale shape: assignment and codes are each ONE map-only pass
    * (broadcast one-row codebooks), checkpointed and shared by all
    * nprobe points; per point the candidate set is probed-list-bound;
    * the shortlist is (queries × 25) ids, so the re-rank join
    * broadcasts a sliver against the corpus scan — in deployment it
    * reads raw vectors by id from the cid-partitioned store
    * (partition-pruned, see sources/IvfIndex), never a second full
    * scan. Recall is monotone in nprobe for both methods, and rr ≥ raw
    * at every point (spec-pinned). */
  def s10IvfAdc(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.sources.PqCodebook
    import graft.functions.{PqExpressions => PQ}
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val truth = s1BruteForceTopK(s, dir).select("qid", "neighbor").localCheckpoint()
    // coarse: s4's deterministic codebook, map-only assignment
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val ccb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = e.crossJoin(broadcast(ccb))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
    // PQ: trained codebook, map-only encode carrying the coarse cid
    val cents = PqCodebook.train(e, IvfAdcK).withColumn("kcb", lit(IvfAdcK)).localCheckpoint()
    val pcb = PqCodebook.kbsRow(cents, Seq(IvfAdcK))
    val codes = assigned.crossJoin(broadcast(pcb))
      .select(col("vec_id"), col("cid"),
        PQ.encode(col("embedding"), element_at(col("kbs"), 1)).as("codes"))
    // queries: ranked centroid probes (the s7 shape) + the ADC table
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val qt = queries.crossJoin(broadcast(pcb))
      .select(col("qid"), PQ.adcTable(col("qemb"), element_at(col("kbs"), 1)).as("tbls"))
    val probes = queries.crossJoin(broadcast(cent))
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("cemb")), col("cid"), 8).as("ranked"),
           first(col("qemb")).as("qemb"))
      .select(col("qid"), col("qemb"), posexplode(col("ranked")).as(Seq("r0", "pcid")))
      .select(col("qid"), col("qemb"), (col("r0") + 1).as("crank"), col("pcid"))
      .join(qt, Seq("qid"))
    // ONE candidate pass serves every nprobe point: a probed-list row
    // joins once with its centroid rank, then fans out to exactly the
    // grid points that include it (n >= crank) — candidate volume is
    // sum over the grid of the probed-list sizes, never corpus × grid
    val shortG = codes.join(broadcast(probes),
        col("cid") === col("pcid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qemb"), col("vec_id"),
        PQ.adcScore(col("codes"), col("tbls")).cast("double").as("score"),
        explode(expr(s"filter(array(${IvfAdcNprobes.mkString(", ")}), n -> n >= crank)")).as("n"))
      .groupBy("n", "qid")
      .agg(TopK.topKByScore(col("score"), col("vec_id"), IvfAdcShortlist).as("short"),
           first(col("qemb")).as("qemb"))
      .localCheckpoint() // (grid × queries) rows, read by raw AND re-rank
    val raw = shortG.select(col("n"), col("qid"),
      explode(slice(col("short"), 1, k)).as("neighbor"))
    val sliver = shortG.select(col("n"), col("qid"), col("qemb"),
      explode(col("short")).as("nbr"))
    val rr = e.join(broadcast(sliver), col("vec_id") === col("nbr"))
      .groupBy("n", "qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), k).as("nbrs"))
      .select(col("n"), col("qid"), explode(col("nbrs")).as("neighbor"))
    val tot = truth.agg(count(lit(1)).as("total"))
    val grid = s.range(1).select(explode(typedlit(IvfAdcNprobes.toArray)).as("n"))
    def curve(method: String, approx: DataFrame): DataFrame = {
      val hits = approx.join(truth, Seq("qid", "neighbor"), "left_semi")
        .groupBy("n").agg(count(lit(1)).as("hits"))
      grid.join(hits, Seq("n"), "left").crossJoin(tot)
        .select(lit(method).as("method"), col("n").cast("long").as("param"),
          coalesce(col("hits"), lit(0L)).as("hits"), col("total"))
        .withColumn("recall_ppm", expr("hits * 1000000 div total"))
    }
    curve("ivf_adc", raw).unionByName(curve("ivf_adc_rr", rr))
      .orderBy("method", "param")
  }

  /** Oracle: coarse assignment + probe ranking (the s4/s7 CTEs), PQ
    * training and integer ADC (PqCodebook SQL), shortlist + exact
    * re-rank per nprobe. */
  lazy val s10Sql: String = {
    import graft.sources.PqCodebook
    val cands = IvfAdcNprobes.map { n =>
      s"""cand$n AS (
         |  SELECT p.qid, cd.vec_id AS neighbor, sum(t.t) AS score
         |  FROM pcodes cd
         |  JOIN assigned a ON a.vec_id = cd.vec_id
         |  JOIN probes p ON p.cid = a.cid AND p.crank <= $n AND cd.vec_id <> p.qid
         |  JOIN ptbl t ON t.qid = p.qid AND t.m = cd.m AND t.c = cd.code
         |  GROUP BY p.qid, cd.vec_id),
         |short$n AS (
         |  SELECT qid, neighbor,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor ASC) AS srank
         |  FROM cand$n QUALIFY srank <= $IvfAdcShortlist)""".stripMargin
    }
    val rows = IvfAdcNprobes.flatMap { n =>
      Seq(
        s"""SELECT 'ivf_adc' AS method, $n AS param, count(*) AS hits
           |FROM (SELECT qid, neighbor FROM short$n WHERE srank <= 5) a
           |JOIN truth t ON a.qid = t.qid AND a.neighbor = t.neighbor""".stripMargin,
        s"""SELECT 'ivf_adc_rr' AS method, $n AS param, count(*) AS hits
           |FROM (
           |  SELECT s.qid, s.neighbor FROM short$n s
           |  JOIN embeddings qe ON qe.vec_id = s.qid
           |  JOIN embeddings ve ON ve.vec_id = s.neighbor
           |  QUALIFY row_number() OVER (PARTITION BY s.qid
           |    ORDER BY list_cosine_similarity(qe.embedding, ve.embedding) DESC,
           |             s.neighbor ASC) <= 5) a
           |JOIN truth t ON a.qid = t.qid AND a.neighbor = t.neighbor""".stripMargin)
    }
    s"""WITH truth AS ($s1Sql),
       |cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
       |assigned AS (
       | SELECT e.vec_id, c.cid
       | FROM embeddings e CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1),
       |probes AS (
       | SELECT q.vec_id AS qid, c.cid,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(q.embedding, c.cemb) DESC, c.cid ASC) AS crank
       | FROM embeddings q CROSS JOIN cent c
       | WHERE q.vec_id < 10),
       |pts AS (${PqCodebook.ptsSql()}),
       |${PqCodebook.trainSql("p", IvfAdcK)},
       |${PqCodebook.encodeSql("p")},
       |${cands.mkString(",\n")},
       |tot AS (SELECT count(*) AS total FROM truth),
       |curve AS (
       |${rows.mkString("\nUNION ALL\n")})
       |SELECT method, CAST(param AS BIGINT) AS param, CAST(hits AS BIGINT) AS hits,
       | CAST(total AS BIGINT) AS total,
       | CAST(hits * 1000000 // total AS BIGINT) AS recall_ppm
       |FROM curve CROSS JOIN tot ORDER BY method, param""".stripMargin
  }

  lazy val s6Sql: String =
    s"""WITH truth AS ($s1Sql),
       |lsh AS ($s2Sql),
       |ivf AS ($s4Sql),
       |tot AS (SELECT count(*) AS total FROM truth),
       |h AS (
       |  SELECT 'ivf' AS method, count(*) AS hits
       |  FROM ivf JOIN truth USING (qid, neighbor)
       |  UNION ALL
       |  SELECT 'lsh' AS method, count(*) AS hits
       |  FROM lsh JOIN truth USING (qid, neighbor))
       |SELECT method, cast(hits AS bigint) AS hits,
       | cast(total AS bigint) AS total,
       | cast(hits * 1000000 // total AS bigint) AS recall_ppm
       |FROM h CROSS JOIN tot ORDER BY method""".stripMargin

  // ---- oracle SQL (same constants, independent engine) ----

  val s1Sql: String =
    """SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor
      |FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5
      |ORDER BY qid, rank""".stripMargin

  lazy val s2Sql: String =
    s"""WITH b AS (
       | SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings)
       |SELECT q.vec_id AS qid,
       | row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS rank,
       | v.vec_id AS neighbor
       |FROM b q JOIN b v ON q.bucket = v.bucket AND v.vec_id <> q.vec_id
       |WHERE q.vec_id < 10
       |QUALIFY rank <= 5
       |ORDER BY qid, rank""".stripMargin

  val s3Sql: String =
    """SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor
      |FROM embeddings q JOIN embeddings v ON q.label = v.label AND v.vec_id <> q.vec_id
      |QUALIFY rank <= 3
      |ORDER BY qid, rank""".stripMargin

  val v1Sql: String =
    """WITH all_rows AS (
      |  SELECT vec_id, label, 0 AS pri FROM embeddings
      |  UNION ALL
      |  SELECT vec_id, label + 100 AS label, 1 AS pri FROM embeddings WHERE vec_id % 7 = 0),
      |merged AS (
      |  SELECT * FROM all_rows
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY pri DESC) = 1)
      |SELECT label, count(*) AS cnt FROM merged GROUP BY label ORDER BY label""".stripMargin

  val v2Sql: String =
    """SELECT label, count(*) AS cnt, cast(sum(vec_id) AS bigint) AS id_checksum
      |FROM embeddings WHERE label NOT IN (3, 7)
      |GROUP BY label ORDER BY label""".stripMargin

  // ---- s14: binary (1-bit) quantized top-k ----

  /** s14: BINARY-quantized ANN — the fourth point on the compression
    * curve (256 B float → 64 B SQ8 (s11) → 20 B PQ (s9) → 8 B binary):
    * each vector collapses to its 64 SIGN bits packed into ONE int64
    * (the FAISS IndexBinaryFlat shape), queries binarize the same way,
    * and ranking is exact integer HAMMING via `bit_count(xor)` — zero
    * floats anywhere past the sign compare, so unlike every other
    * Similarity query the SCORE COLUMN itself is oracle-hashable, not
    * just the rank order (sign(x) is precision-independent: float32
    * and the oracle's float64 agree bit-for-bit on > 0).
    *
    * Scale: codes are map-only (one HOF fold per row), the corpus
    * never shuffles (broadcast query codes), top-5 is the bounded
    * payload-carrying aggregate — 8-byte codes mean a 100 TB float
    * corpus ranks from a 3 TB code table, the memory-resident regime
    * binary indexes exist for. Recall vs s1 truth is measured in the
    * spec (the s6 harness family). */
  /** The 64-sign-bit pack of a float-array column (column name via %s). */
  private def signCode(colName: String) = expr(
    s"""aggregate(sequence(0, 63), cast(0 as bigint),
       |  (acc, d) -> acc + if(element_at($colName, d + 1) > cast(0 as float),
       |                       shiftleft(cast(1 as bigint), d), cast(0 as bigint)))""".stripMargin)

  private def s14Ranked(corpus: DataFrame, q: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val joined =
      if (excludeSelf) corpus.join(broadcast(q), col("vec_id") =!= col("qid"))
      else corpus.crossJoin(broadcast(q))
    joined
      .withColumn("hamming", bit_count(col("qcode").bitwiseXOR(col("code"))))
      .groupBy("qid")
      .agg(graft.functions.TopKRows.topKRowsByScore(
        -col("hamming").cast("double"), col("vec_id"),
        struct(col("vec_id").as("neighbor"), col("hamming")), k).as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("nbr.neighbor").as("neighbor"), col("nbr.hamming").as("hamming"))
      .orderBy("qid", "rank")
  }

  def s14BinaryTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), signCode("embedding").as("code"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("code").as("qcode"))
    s14Ranked(e, q, 5, excludeSelf = true)
  }

  /** [[s14BinaryTopK]] for an EXTERNAL (qid, qemb) batch — the query
    * binarizes with the same sign pack; ranking stays exact-integer
    * hamming. */
  def s14BinaryTopKFor(s: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), signCode("embedding").as("code"))
    val q = queries.select(col("qid"), signCode("qemb").as("qcode"))
    s14Ranked(e, q, k, excludeSelf = false)
  }

  val s14Sql: String =
    """WITH codes AS (
      | SELECT vec_id,
      |  cast(list_sum(list_transform(range(0, 64),
      |    d -> CASE WHEN embedding[d + 1] > 0
      |         THEN (CASE WHEN d = 63 THEN (-9223372036854775807::BIGINT - 1) ELSE (1::BIGINT << d) END)
      |         ELSE 0::BIGINT END)) AS bigint) AS code
      | FROM embeddings)
      |SELECT q.vec_id AS qid,
      | row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY bit_count(xor(q.code, v.code)) ASC, v.vec_id ASC) AS rank,
      | v.vec_id AS neighbor,
      | cast(bit_count(xor(q.code, v.code)) AS int) AS hamming
      |FROM codes q JOIN codes v ON v.vec_id <> q.vec_id
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5
      |ORDER BY qid, rank""".stripMargin

  // ---- s12: MMR diversity re-rank ----

  /** MMR parameters: shortlist depth, selected count, relevance weight. */
  val MmrShortlist = 20
  val MmrK = 5
  val MmrLambda = 0.5

  /** s12: Maximal Marginal Relevance re-rank (Carbonell & Goldstein
    * SIGIR'98) — the diversity pass a RAG retriever runs between ANN
    * shortlist and prompt assembly (LangChain exposes it as
    * `maxMarginalRelevanceSearch` on the same HNSW store the reference
    * builds): from each query's cosine top-20 shortlist, greedily pick 5
    * maximizing `λ·rel(c,q) − (1−λ)·max_{s∈S} sim(c,s)` at λ=0.5.
    *
    * Spark-first shape: the ONLY corpus-sized work is the s1-style
    * bounded top-k pass (broadcast queries, codegen'd cosine, TopKByScore
    * partial aggregate). Everything after runs on a (queries × 20)
    * sliver: candidate embeddings re-join the corpus BY BROADCASTING THE
    * SLIVER (the corpus is never shuffled), pairwise sims are a
    * qid-keyed sliver self-join (≤ q·20² rows), and the greedy loop is
    * MmrK−1 unrolled rounds of [anti-join selected → max-sim join →
    * per-qid argmax window] — every frame localCheckpoint'd so round r
    * does not re-execute rounds 1..r−1 (the s6 truth-materialization
    * discipline). At 100 TB only the shortlist pass scales with the
    * corpus; the re-rank cost is queries-bound, exactly how a serving
    * tier runs MMR.
    *
    * Output is the family's rank-only contract (qid, rank, neighbor):
    * greedy argmax gaps are ~1e-2 cosine while cross-engine float
    * divergence is ~1e-8, so selections are rank-stable (the s1 rule);
    * ties break by neighbor id ASC in both engines. */
  def s12MmrRerank(s: SparkSession, dir: String): DataFrame =
    s12MmrRerankFrame(Tables.embeddings(s, dir).select("vec_id", "embedding"))

  /** Corpus-parameterized body of [[s12MmrRerank]] (spec fixtures plant
    * near-duplicate shortlists to pin the diversity behavior). */
  private[graft] def s12MmrRerankFrame(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    s12MmrFrame(e, q, excludeSelf = true)
  }

  /** [[s12MmrRerank]] for an EXTERNAL (qid, qemb) batch — the LangChain
    * `maxMarginalRelevanceSearch(queryVector, ...)` shape: shortlist by
    * cosine against the caller's vectors, then the same greedy
    * diversity unroll. No self-exclusion (the queries are not store
    * members). */
  def s12MmrRerankFor(s: SparkSession, dir: String, queries: DataFrame): DataFrame =
    s12MmrFrame(Tables.embeddings(s, dir).select("vec_id", "embedding"),
      queries, excludeSelf = false)

  /** CosineSimilarity.nullSafeEval's exact loop (the localWalkVisited
    * replication): float inputs widened per element, double
    * accumulation in index order, zero-norm ⇒ 0.0. */
  private[operators] def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** TopKBuffer's exact order: score desc via Double.compare, then id asc. */
  private[operators] def beatsLocal(s: Double, i: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s, s2)
    c > 0 || (c == 0 && i < i2)
  }

  /** The greedy MMR unroll over a COLLECTED candidate sliver —
    * bit-identical to the frame rounds: per group, rank 1 = argmax
    * (rel desc, id asc); round r picks argmax of λ·rel − (1−λ)·maxsim
    * over the unselected (ties id asc), with sims computed by the same
    * double cosine loop the frame's codegen evaluates. Double compares
    * treat ==-equal values as ties (Spark's nanSafeCompareDoubles:
    * 0.0 == -0.0 ties to the id; NaN cannot occur — zero-norm ⇒ 0.0).
    * Returns (group, id, rank) for ranks 1..k. */
  private[operators] def mmrGreedyLocal(
      rows: Array[(Long, Long, Double, Array[Float])], k: Int,
      lambda: Double): Seq[(Long, Long, Int)] = {
    def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      if (s1 == s2) i1 < i2 else s1 > s2
    val out = Seq.newBuilder[(Long, Long, Int)]
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, cs) =>
      if (cs.nonEmpty) {
        // rank 1: argmax rel, ties to the lower id
        var first = cs.head
        cs.foreach { c => if (better(c._3, c._2, first._3, first._2)) first = c }
        out += ((g, first._2, 1))
        val selected = scala.collection.mutable.ArrayBuffer(first)
        val remaining = scala.collection.mutable.ArrayBuffer(
          cs.filter(_._2 != first._2): _*)
        var r = 2
        while (r <= k && remaining.nonEmpty) {
          var best: (Long, Long, Double, Array[Float]) = null
          var bestMmr = 0.0
          remaining.foreach { c =>
            var maxsim = Double.NegativeInfinity
            selected.foreach { s =>
              val sim = cosLocal(c._4, s._4)
              if (sim > maxsim) maxsim = sim
            }
            val mmr = lambda * c._3 - (1.0 - lambda) * maxsim
            if (best == null || better(mmr, c._2, bestMmr, best._2)) {
              best = c; bestMmr = mmr
            }
          }
          out += ((g, best._2, r))
          selected += best
          remaining -= best
          r += 1
        }
      }
    }
    out.result()
  }

  private[graft] def s12MmrFrame(e: DataFrame, q0: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = e.sparkSession
    import spark.implicits._
    val q = q0.select(col("qid"), col("qemb"))
    val shortBase =
      if (excludeSelf) e.join(broadcast(q), col("vec_id") =!= col("qid"))
      else e.crossJoin(broadcast(q))
    val shortIds = shortBase
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), MmrShortlist).as("nbrs"))
      .select(col("qid"), explode(col("nbrs")).as("cand_id"))
    val cand0 = e.select(col("vec_id").as("cand_id"), col("embedding").as("cemb"))
      .join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cand_id"), V.cosine(col("qemb"), col("cemb")).as("rel"), col("cemb"))
    // broadcast-local greedy: the frame unroll is DRIVER-ACTION-bound (7
    // localCheckpoints over a queries × MmrShortlist sliver). rel comes
    // from the frame's own codegen'd cosine, pairwise sims from the
    // identical local loop
    graft.Sliver.collect("mmr", cand0) match {
      case Some(rows) =>
        val cs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getSeq[Float](3).toArray))
        return mmrGreedyLocal(cs, MmrK, MmrLambda)
          .toDF("qid", "neighbor", "rank")
          .coalesce(1)
          .select(col("qid"), col("rank"), col("neighbor"))
          .orderBy("qid", "rank")
      case None =>
    }
    val cand = cand0.localCheckpoint()
    val pairs = cand.select(col("qid"), col("cand_id").as("a"), col("cemb").as("aemb"))
      .join(cand.select(col("qid"), col("cand_id").as("b"), col("cemb").as("bemb")), Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"), V.cosine(col("aemb"), col("bemb")).as("sim"))
      .localCheckpoint()
    val wFirst = Window.partitionBy("qid").orderBy(col("rel").desc, col("cand_id").asc)
    var sel = cand
      .withColumn("rn", row_number().over(wFirst)).filter(col("rn") === 1)
      .select(col("qid"), col("cand_id"), lit(1).as("rank"))
      .localCheckpoint()
    val wMmr = Window.partitionBy("qid").orderBy(col("mmr").desc, col("cand_id").asc)
    for (r <- 2 to MmrK) {
      val selected = sel.select(col("qid").as("sqid"), col("cand_id").as("sid"))
      val maxSim = pairs
        .join(selected, col("qid") === col("sqid") && col("b") === col("sid"))
        .groupBy("qid", "a").agg(max(col("sim")).as("maxsim"))
        .select(col("qid").as("mqid"), col("a"), col("maxsim"))
      val pick = cand
        .join(selected, col("qid") === col("sqid") && col("cand_id") === col("sid"), "left_anti")
        .join(maxSim, col("qid") === col("mqid") && col("cand_id") === col("a"))
        .withColumn("mmr", lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("maxsim"))
        .withColumn("rn", row_number().over(wMmr)).filter(col("rn") === 1)
        .select(col("qid"), col("cand_id"), lit(r).as("rank"))
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel.select(col("qid"), col("rank"), col("cand_id").as("neighbor"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin: the identical greedy unroll as chained CTEs — each
    * round's argmax over `0.5·rel − 0.5·max(sim to selected)` with the
    * same cid-ASC tie-break, built programmatically for rounds 2..MmrK. */
  lazy val s12Sql: String = {
    val rounds = (2 to MmrK).map { r =>
      val prev = (1 until r).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s"""selu${r - 1} AS ($prev),
         |pick$r AS (
         | SELECT c.qid, c.cid, $MmrLambda * c.rel - ${1.0 - MmrLambda} * max(p.sim) AS mmr
         | FROM cand c
         | JOIN pairs p ON p.qid = c.qid AND p.a = c.cid
         | JOIN selu${r - 1} s ON s.qid = p.qid AND s.cid = p.b
         | WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x WHERE x.qid = c.qid AND x.cid = c.cid)
         | GROUP BY c.qid, c.cid, c.rel),
         |sel$r AS (
         | SELECT qid, cid, $r AS rank FROM pick$r
         | QUALIFY row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val allSel = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH cand AS (
       | SELECT q.vec_id AS qid, v.vec_id AS cid,
       |  list_cosine_similarity(q.embedding, v.embedding) AS rel,
       |  v.embedding AS cemb
       | FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
       | WHERE q.vec_id < 10
       | QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) <= $MmrShortlist),
       |pairs AS (
       | SELECT a.qid, a.cid AS a, b.cid AS b, list_cosine_similarity(a.cemb, b.cemb) AS sim
       | FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid),
       |sel1 AS (
       | SELECT qid, cid, 1 AS rank FROM cand
       | QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) = 1),
       |$rounds
       |SELECT qid, rank, cid AS neighbor FROM ($allSel) u
       |ORDER BY qid, rank""".stripMargin
  }

  // ---- s19: late-interaction (MaxSim) multi-vector retrieval ----

  /** s19: LATE-INTERACTION retrieval — ColBERT's MaxSim (Khattab &
    * Zaharia 2020) over multi-vector "documents": a document is a SET
    * of vectors (here a label group — the chunked-passage shape), a
    * query is a set too, and relevance is Σ_{q∈Q} max_{d∈D} sim(q, d)
    * — each query vector finds its best-matching document vector, so a
    * document matching HALF the query's aspects perfectly beats one
    * matching everything weakly; single-vector cosine (s1) structurally
    * cannot express that.
    *
    * Exactness: components quantize FIRST — floor(x·1024) per element
    * (exact float→double→floor in both engines, the s11/SQ discipline;
    * NEVER floor a computed cosine — accumulation order would decide
    * the unit) — and similarity is the INTEGER dot product, so max,
    * sum, rank are all exact int64 and the score column itself is
    * oracle-hashable.
    *
    * Plan: the query side is a BOUNDED probe batch (the s1 `vec_id <
    * 10` discipline, widened to 30 so several labels query as
    * multi-vector groups) — bounded means the pair pass is O(corpus),
    * never O(corpus × corpus-fraction); it quantizes and BROADCASTS;
    * the corpus quantizes in the same map stage it scans in and joins
    * the query side once (label-exclusion predicate, broadcast — the
    * corpus never shuffles vectors); aggregate 1 is the map-combined
    * (qlabel, qvec, dlabel) max; aggregate 2 the (qlabel, dlabel) sum;
    * the top-3 rank runs over that labels²-bound cell frame. 100 TB
    * path: the candidate pass composes with IVF pruning (s4/s10) the
    * same way s1 does — MaxSim only changes the per-pair score and the
    * two-level rollup. */
  def s19MaxSim(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val quant = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))")
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("label"), quant.as("qv"))
    val q = e.filter(col("vec_id") < 30)
      .select(col("label").as("qlabel"), col("vec_id").as("qvec"), col("qv").as("qq"))
    maxSimFrames(e, q, k)
  }

  /** The MaxSim core over ANY quantized corpus (vec_id, label, qv) and
    * bounded query batch (qlabel, qvec, qq) — the public API;
    * [[s19MaxSim]] binds the oracle's probe fixture. */
  def maxSimFrames(e: DataFrame, q: DataFrame, k: Int): DataFrame = {
    // codegen'd exact int64 dot — the HOF zip_with form allocates an
    // intermediate array per pair row and measured 4.5x slower at sf1
    val dotInt = V.intDot(col("qq"), col("qv"))
    val pair = e.join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("qlabel"), col("qvec"), col("label").as("dlabel"), dotInt.as("d"))
      .groupBy("qlabel", "qvec", "dlabel").agg(max(col("d")).as("m"))
    val sc = pair.groupBy("qlabel", "dlabel").agg(sum(col("m")).as("score_q10"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qlabel").orderBy(col("score_q10").desc, col("dlabel"))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qlabel"), col("rank"), col("dlabel"), col("score_q10"))
      .orderBy("qlabel", "rank")
  }

  val s19Sql: String =
    """WITH e AS (
      | SELECT vec_id, label,
      |  list_transform(embedding, x -> cast(floor(cast(x AS double) * 1024) AS bigint)) AS qv
      | FROM embeddings),
      |q AS (SELECT label AS qlabel, vec_id AS qvec, qv AS qq FROM e WHERE vec_id < 30),
      |pair AS (
      | SELECT qlabel, qvec, e.label AS dlabel,
      |  max(list_inner_product(qq, qv)) AS m
      | FROM e JOIN q ON e.label <> q.qlabel
      | GROUP BY 1, 2, 3),
      |sc AS (
      | SELECT qlabel, dlabel, cast(sum(m) AS bigint) AS score_q10
      | FROM pair GROUP BY 1, 2)
      |SELECT qlabel,
      | row_number() OVER (PARTITION BY qlabel ORDER BY score_q10 DESC, dlabel) AS rank,
      | dlabel, score_q10
      |FROM sc QUALIFY rank <= 3
      |ORDER BY qlabel, rank""".stripMargin
}
