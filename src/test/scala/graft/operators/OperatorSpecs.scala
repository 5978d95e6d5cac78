package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  test("q1 groups are the (returnflag, linestatus) combinations and counts add up") {
    val rows = Relational.q1Agg(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == graft.Tables.lineitem(spark, sfDir).count())
  }

  test("q4 global rollup equals manual totals") {
    val r = Relational.q4GlobalRollup(spark, sfDir).head()
    val e = graft.Tables.events(spark, sfDir)
    assert(r.getAs[Long]("total_events") == e.count())
    assert(r.getAs[Long]("distinct_users") == e.select("user_id").distinct().count())
  }

  test("q6 pagination returns page 3 of the global order") {
    val all = graft.Tables.orders(spark, sfDir)
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      .select("o_orderkey").limit(30).collect().map(_.getLong(0))
    val page = Relational.q6Pagination(spark, sfDir).collect().map(_.getAs[Long]("o_orderkey"))
    assert(page.toSeq == all.slice(20, 30).toSeq)
  }

  test("q8 semi-join never duplicates orders") {
    val df = Relational.q8SemijoinIn(spark, sfDir)
    assert(df.count() == df.select("o_orderkey").distinct().count())
  }

  test("q11 returns exactly one row per user") {
    val df = Relational.q11LatestPerKey(spark, sfDir)
    assert(df.count() == df.select("user_id").distinct().count())
  }
}

class SimilaritySpec extends LocalFrameEquivalence {
  import graft.functions.{VectorExpressions => V}

  test("s1 ranks agree with a window-function reference plan") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("vec_id").asc)
    val ref = e.join(q, col("vec_id") =!= col("qid"))
      .withColumn("score", V.cosine(col("qemb"), col("embedding")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"))
      .orderBy("qid", "rank").collect().toSeq
    val got = Similarity.s1BruteForceTopK(spark, sfDir)
      .collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) ==
           ref.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))
  }

  test("s3 collapsed default equals the naive all-pairs kNN join") {
    val naive = Similarity.s3KnnJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val collapsed = Similarity.s3KnnJoinCollapsed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(collapsed == naive)
  }

  test("s3 collapsed is exact under duplicate multiplicity (planted identical vectors)") {
    import org.apache.spark.sql.expressions.Window
    // every 5th vector gets two extra byte-identical copies — the
    // duplicate-multiplicity shape the collapse exists for; ids interleave
    // above and below the originals to stress the id-ASC tie-break
    val base = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").filter(col("vec_id") < 300)
    val e = base
      .unionByName(base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding")))
      .unionByName(base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") - 1000000).as("vec_id"), col("label"), col("embedding")))
    import graft.functions.{VectorExpressions => V}
    val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qemb"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id").asc)
    val ref = e.join(q, col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("score", V.cosine(col("qemb"), col("embedding")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"))
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val got = Similarity.s3KnnJoinCollapsedFrame(e, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == ref)
  }

  test("s8 PQ-ADC ranking matches a driver-side recompute from first principles") {
    // encode + table + 8-term fold reimplemented on plain Scala doubles:
    // the spec derives the expected ranking from the PQ definition alone
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val cents = vecs.filter(_._1 < 8).map(_._2)
    def subDot(a: Array[Float], b: Array[Float], m: Int): Double = {
      var acc = 0.0; var i = m * 8
      while (i < m * 8 + 8) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def codes(v: Array[Float]): Array[Int] = Array.tabulate(8) { m =>
      val ss = cents.map(c => subDot(v, c, m))
      ss.indexOf(ss.max) // first max = lowest cid on ties
    }
    val expected = vecs.filter(_._1 < 10).flatMap { case (qid, q) =>
      val scored = vecs.filter(_._1 != qid).map { case (vid, v) =>
        val c = codes(v)
        val score = (0 until 8).foldLeft(0.0)((acc, m) => acc + subDot(q, cents(c(m)), m))
        (vid, score)
      }
      scored.sortBy { case (vid, s) => (-s, vid) }.take(5).zipWithIndex
        .map { case ((vid, _), i) => (qid, i + 1, vid) }
    }.toSeq
    val got = Similarity.s8PqAdc(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("s2 LSH results are a subset of candidates sharing a bucket") {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.lshBucket(col("embedding")).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    Similarity.s2LshTopK(spark, sfDir).collect().foreach { r =>
      assert(e(r.getLong(0)) == e(r.getLong(2)), s"qid ${r.getLong(0)} and neighbor ${r.getLong(2)} share no bucket")
    }
  }

  test("s6 recall equals a recompute from the component queries") {
    val rows = Similarity.s6RecallEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val truth = Similarity.s1BruteForceTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Long = df.collect()
      .count(r => truth.contains((r.getLong(0), r.getLong(2)))).toLong
    val want = Map(
      "ivf" -> hits(Similarity.s4IvfTopK(spark, sfDir)),
      "lsh" -> hits(Similarity.s2LshTopK(spark, sfDir)))
    assert(rows.keySet == want.keySet)
    rows.foreach { case (m, (h, t, ppm)) =>
      assert(t == truth.size.toLong, s"$m total")
      assert(h == want(m), s"$m hits: got $h want ${want(m)}")
      assert(ppm == h * 1000000L / t, s"$m ppm arithmetic")
      // lsh recall can legitimately be 0 at tiny scale factors (hyperplane
      // buckets shatter a sparse corpus) — that is exactly the signal the
      // eval exists to surface, so only the upper bound is structural
      assert(h <= t, s"$m recall out of range")
    }
    // IVF probes the true nearest centroid's list, so it recalls at
    // least something at every scale factor
    assert(rows("ivf")._1 >= 1, "ivf recall unexpectedly zero")
  }

  test("s7 tuning curve: recall monotone in nprobe, exact at nprobe=nlist, anti-monotone in planes") {
    val rows = Similarity.s7TuningCurve(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    val ivf = Similarity.IvfNprobes.map(n => rows(("ivf", n.toLong)))
    // more lists probed can only add candidates -> recall non-decreasing
    ivf.sliding(2).foreach { case Seq(a, b) => assert(a <= b, s"ivf curve not monotone: $ivf") }
    // nprobe = nlist probes every inverted list: brute force by
    // construction, recall exactly 1
    assert(rows(("ivf", 8L)) == 1000000L, s"full probe must be exact: $rows")
    // more hyperplanes -> finer buckets -> fewer candidates -> recall
    // non-increasing
    val lsh = Similarity.LshPlaneCounts.map(p => rows(("lsh", p.toLong)))
    lsh.sliding(2).foreach { case Seq(a, b) => assert(a >= b, s"lsh curve not anti-monotone: $lsh") }
    // s6 and s7 agree where their grids overlap (ivf nprobe=1 is s4's
    // probe; lsh 8 planes is s2's bucket)
    val s6 = Similarity.s6RecallEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows(("ivf", 1L)) == s6("ivf"))
    assert(rows(("lsh", 8L)) == s6("lsh"))
  }

  test("s9 trained-PQ curve: recall monotone in codebook size, usable at k=32, training deterministic") {
    val rows = Similarity.s9PqTrained(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(rows.keySet == Similarity.PqKs.map(_.toLong).toSet)
    val curve = Similarity.PqKs.map(k => rows(k.toLong))
    // a larger trained codebook quantizes finer -> recall non-decreasing
    // (measured: 0.26->0.74 at sf0.001, 0.22->0.64 at sf0.1)
    curve.sliding(2).foreach { case Seq(a, b) => assert(a <= b, s"pq curve not monotone: $curve") }
    // the headline quality claim: the trained k=32 codebook is a USABLE
    // quantizer (s8's untrained baseline measures ~0.22 at sf0.1)
    assert(rows(32L) >= 600000L, s"trained PQ recall@5 below 0.6: $curve")
    // determinism: the integer Lloyd is a pure function of the corpus —
    // two trainings yield the identical codebook
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    def cb(): Seq[(Int, Int, Seq[Long])] = graft.sources.PqCodebook.train(e, 8).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toSeq.sortBy(t => (t._1, t._2))
    assert(cb() == cb())
  }

  test("broadcast-local Lloyd equals the distributed training frames (full grid)") {
    import graft.sources.PqCodebook
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    def cb(): Seq[(Int, Int, Int, Seq[Long])] =
      PqCodebook.trainMany(e, Similarity.PqKs).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Long](3)))
        .toSeq.sortBy(t => (t._1, t._2, t._3))
    val viaLocal = localPath("pq.train")(cb())
    val viaFrames = framePath("pq.train")(cb()) // budget 0: the distributed path
    assert(viaLocal == viaFrames,
      "local Lloyd diverges from the distributed training frames")
    assert(viaLocal.nonEmpty)
  }

  test("PQ native expressions equal their declarative HOF twins (encode, table, score)") {
    import graft.sources.PqCodebook
    import graft.functions.{PqExpressions => PQ}
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cb = PqCodebook.codebookRow(PqCodebook.train(e, 8).localCheckpoint())
    val base = e.crossJoin(broadcast(cb)).withColumn("xms", PqCodebook.xmsCol())
    val enc = base
      .select(col("vec_id"),
        PQ.encode(col("embedding"), col("cbs")).as("native"),
        expr(PqCodebook.sssExpr).as("sss"))
      .select(col("vec_id"), col("native"), expr(PqCodebook.codesExpr).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(enc.count() == 0, "native encode diverges from the HOF form")
    val tbl = base.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        PQ.adcTable(col("embedding"), col("cbs")).as("native"),
        expr(PqCodebook.tblsExpr).as("hof"))
      .filter(not(col("native") === col("hof")))
    assert(tbl.count() == 0, "native ADC table diverges from the HOF form")
    val codes = base.select(col("vec_id"),
      PQ.encode(col("embedding"), col("cbs")).as("codes"))
    val tbls = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), PQ.adcTable(col("embedding"), col("cbs")).as("tbls"))
    val sc = codes.crossJoin(broadcast(tbls))
      .select(PQ.adcScore(col("codes"), col("tbls")).as("native"),
        expr(PqCodebook.adcScoreExpr).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(sc.count() == 0, "native ADC score diverges from the HOF form")
  }

  test("s10 IVF-ADC curve: monotone in nprobe, re-rank dominates raw ADC, full probe equals s9") {
    val rows = Similarity.s10IvfAdc(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    val raw = Similarity.IvfAdcNprobes.map(n => rows(("ivf_adc", n.toLong)))
    val rr = Similarity.IvfAdcNprobes.map(n => rows(("ivf_adc_rr", n.toLong)))
    // more lists probed can only add candidates
    raw.sliding(2).foreach { case Seq(a, b) => assert(a <= b, s"raw curve not monotone: $raw") }
    rr.sliding(2).foreach { case Seq(a, b) => assert(a <= b, s"rr curve not monotone: $rr") }
    // exact re-rank of a 25-deep shortlist can only improve on its top-5
    Similarity.IvfAdcNprobes.foreach { n =>
      assert(rows(("ivf_adc_rr", n.toLong)) >= rows(("ivf_adc", n.toLong)),
        s"re-rank below raw at nprobe=$n")
    }
    // nprobe = nlist probes everything: raw ADC at full probe IS s9's
    // whole-corpus ADC at the same codebook size (cross-query identity)
    val s9 = Similarity.s9PqTrained(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(rows(("ivf_adc", 8L)) == s9(Similarity.IvfAdcK.toLong),
      "full-probe IVF-ADC disagrees with whole-corpus PQ")
  }

  test("v1 upsert preserves the key count (no duplicate vec_ids)") {
    val total = Similarity.v1Upsert(spark, sfDir).agg(sum("cnt")).head().getLong(0)
    assert(total == graft.Tables.embeddings(spark, sfDir).count())
  }

  test("s5 filtered ANN only ever returns neighbors passing the metadata filter") {
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.s5FilteredTopK(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lbl = labels(r.getLong(2))
      assert(Set(1, 2, 3).contains(lbl), s"neighbor ${r.getLong(2)} has label $lbl")
    }
    // per query: ranks are 1..k contiguous
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"qid $qid ranks")
    }
  }

  test("s5's metadata filter reaches the parquet scan (PushedFilters)") {
    // pinned on the above-gate FRAME path — the at-scale shape whose
    // scan the pushdown must reach. The r18 broadcast-local route
    // collects the SAME filtered scan (the pushdown fires at collect
    // time), but its final plan roots at a local relation and no longer
    // displays the scan node.
    framePath("brute") {
      val plan = Similarity.s5FilteredTopK(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("In(label, [1,2,3])"),
        s"label filter not pushed into the scan:\n$plan")
    }
  }

  test("v3 index stats partition the store exactly (counts, dim, checksum)") {
    val e = graft.Tables.embeddings(spark, sfDir)
    val rows = Similarity.v3IndexStats(spark, sfDir).collect()
    assert(rows.map(_.getLong(1)).sum == e.count())
    rows.foreach { r =>
      assert(r.getInt(2) == Similarity.Dim && r.getInt(3) == Similarity.Dim,
        s"label ${r.getInt(0)} dim range ${r.getInt(2)}..${r.getInt(3)}")
    }
    val wholeSum = e.agg(sum("vec_id")).head().getLong(0)
    assert(rows.map(_.getLong(4)).sum == wholeSum)
  }

  test("v4 centroid matches a driver-side fixed-point recompute per (label, dim)") {
    val got = Similarity.v4LabelCentroid(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(got.nonEmpty && vecs.nonEmpty)
    val byLabel = vecs.groupBy(_._1)
    byLabel.foreach { case (label, rs) =>
      val dim = rs.head._2.length
      (0 until dim).foreach { d =>
        val micros = rs.map(v => math.floor(v._2(d).toDouble * 1e6).toLong)
        val expect = math.floor(micros.sum.toDouble / micros.length).toLong
        val (n, c) = got((label, d.toLong))
        assert(n == rs.length && c == expect, s"label $label dim $d")
      }
    }
  }
}

class LineDedupSpec extends SparkSpec {
  test("d10 keeps planted boilerplate lines exactly once corpus-wide") {
    val rows = Dedup.d10LineDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    // every doc keeps at most its own line count; counts are sane
    rows.foreach { case (doc, n, k) => assert(k >= 0 && k <= n, s"doc $doc") }
    // 'all rights reserved' is planted on every 5th doc but survives once:
    // total kept lines = total lines - (occurrences - 1) per duplicated norm
    val docs = graft.Tables.documents(spark, sfDir).count()
    val plantedArr = rows.count(_._1 % 5 == 0)
    assert(plantedArr > 1)
    // the first %3 doc (doc 0) keeps its boilerplate; later %3 docs lose
    // exactly those two lines unless the rest of their text is also duplicated
    val loseTwo = rows.filter { case (doc, _, _) => doc % 3 == 0 && doc % 5 != 0 && doc % 10 != 0 }
    assert(loseTwo.count { case (doc, n, k) => doc > 0 && n - k >= 2 } == loseTwo.count(_._1 > 0),
      "a %3 doc after the first kept planted boilerplate")
    // d10's corpus (base + planted boilerplate) never zeroes a doc, so the
    // null-fp invariant can't fire here — pin it on a targeted fixture below
    val fpNull = Dedup.d10LineDedup(spark, sfDir)
      .filter(col("n_kept") === 0 && col("kept_fp").isNotNull).count()
    assert(fpNull == 0, "kept_fp must be null when nothing survives")
  }

  test("lineDedupCore nulls kept_fp for an exact-duplicate doc that loses every line") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "alpha\nbeta\ngamma"), // exact twin: every line loses to doc 1
      (3L, "delta\nbeta")         // partial overlap: keeps delta only
    ).toDF("doc_id", "text")
    val rows = Dedup.lineDedupCore(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.isNullAt(3))).toMap
    assert(rows(1L) == ((3L, 3L, false)))
    assert(rows(2L) == ((3L, 0L, true)), "twin must lose all lines and carry a null kept_fp")
    assert(rows(3L) == ((2L, 1L, false)))
  }
}

class SubstringDedupSpec extends SparkSpec {
  test("d17 planted passages are found; the first occurrence alone reports zero") {
    val rows = Dedup.d17SubstringDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // doc 0 carries the global first occurrence of both planted passages
    val d0 = rows.find(_._1 == 0L).get
    assert(d0._3 == 0L && d0._4 == 0L, "doc 0 must report no duplicated span")
    rows.foreach { case (doc, n, dup, spans) =>
      assert(dup >= 0 && dup <= n, s"doc $doc dup_tokens out of [0, n_tokens]")
      assert((dup == 0) == (spans == 0), s"doc $doc span/token coherence")
    }
    // every later %3 doc repeats the full 30-token mirrored passage
    val m3 = rows.filter(r => r._1 > 0 && r._1 % 3 == 0)
    assert(m3.nonEmpty && m3.forall(_._3 >= 30), "a %3 doc under-reported the mirror passage")
    // every later %5 doc repeats the full 19-token boilerplate prefix
    val m5 = rows.filter(r => r._1 > 0 && r._1 % 5 == 0)
    assert(m5.nonEmpty && m5.forall(_._3 >= 19), "a %5 doc under-reported the boilerplate prefix")
  }

  test("substringDedupCore merges overlapping windows and keeps disjoint islands apart") {
    import spark.implicits._
    // doc 1 is the source; doc 2 copies tokens 0..5 and, after 4 unique
    // tokens, tokens 8..13 — two disjoint duplicated islands of 6 tokens
    // each at w=3 (positions 0..3 and 10..13 dup → spans [0,6) and [10,16))
    val src = "a b c d e f u1 u2 g h i j k l"
    val cpy = "a b c d e f x1 x2 x3 x4 g h i j k l"
    val rows = Dedup.substringDedupCore(
      Seq((1L, src), (2L, cpy)).toDF("doc_id", "text"), 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((14L, 0L, 0L)), "source doc must keep everything")
    assert(rows(2L) == ((16L, 12L, 2L)), "copy must show two 6-token islands")
  }

  test("token_window_hashes groups windows exactly like their token strings") {
    import graft.functions.TokenWindowHashUtil.windowHashes
    import org.apache.spark.unsafe.types.UTF8String
    // texts sharing some windows, plus the leading-whitespace split rule
    val texts = Seq("a b c d e", "x b c d y", "b c d e a", " a b c d e", "a a a a a")
    val w = 3
    val all = texts.flatMap { t =>
      val toks = t.split("\\s+").toSeq
      val hs = windowHashes(UTF8String.fromString(t), w).toLongArray()
      assert(hs.length == math.max(toks.length - w + 1, 0), s"count for '$t'")
      hs.zipWithIndex.map { case (h, i) => (toks.slice(i, i + w).mkString(" "), h) }
    }
    for ((sa, ha) <- all; (sb, hb) <- all)
      assert((sa == sb) == (ha == hb), s"'$sa' vs '$sb' hash disagreement")
  }

  test("substringDedupCore: a doc shorter than the window is reported with zero dups") {
    import spark.implicits._
    val rows = Dedup.substringDedupCore(
      Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text"), 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows == Map(1L -> 0L, 2L -> 0L))
  }
}

class DedupSpec extends SparkSpec {
  test("d1 finds exactly the planted exact duplicates") {
    val expected = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).count()
    val got = Dedup.d1ExactDedup(spark, sfDir)
    assert(got.count() == expected)
    assert(got.filter(col("cnt") =!= 2).count() == 0)
  }

  test("d2 jaccard pairs include every planted near-dup with jaccard in (0.5, 1]") {
    val pairs = Dedup.d2NgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0)).toSet
    planted.foreach { id =>
      assert(pairs.exists { case (a, b, j) => a == id && b == id + 100000 && j > 0.5 && j <= 1.0 },
        s"missing planted pair for doc $id")
    }
  }

  test("d2 collapsed default (registered) equals the naive all-pairs form") {
    val naive = Dedup.d2NgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val collapsed = Dedup.d2NgramJaccardCollapsed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(collapsed == naive)
  }

  test("d2 prefix-screened form equals the collapsed form (and the naive form)") {
    val collapsed = Dedup.d2NgramJaccardCollapsed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val screened = Dedup.d2PrefixScreened(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(screened == collapsed)
  }

  test("d2 prefix screen defuses a flooded shared-prefix block") {
    import spark.implicits._
    // one hot block: 60 DISTINCT texts sharing the same 40-char prefix
    // (the shared-boilerplate multilingual-crawl shape): 6 "languages"
    // with DISJOINT 4-letter alphabets, 10 docs each — cross-language
    // pairs share only the boilerplate (never a rare shingle), so the
    // screen admits at most the 6·C(10,2) same-language pairs where the
    // collapsed form scores the full block square
    val boiler = "breaking news from the wire service desk " // 41 chars
    val rnd = new scala.util.Random(11)
    val filler = (0 until 60).map { i =>
      val alpha = (0 until 4).map(k => ('a' + 4 * (i / 10) + k).toChar)
      (i.toLong, boiler + (0 until 30).map(_ =>
        (0 until 6).map(_ => alpha(rnd.nextInt(4))).mkString).mkString(" "))
    }
    val planted = Seq(
      (100L, boiler + "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, boiler + "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (102L, boiler + "one two three four five six seven eight nine ten"),
      (103L, boiler + "one two three four five six seven eight nine eleven"))
    val corpus = (filler ++ planted).toDF("doc_id", "text")
    val screened = Dedup.d2PrefixScreenedFrame(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(screened.contains((100L, 101L)) && screened.contains((102L, 103L)))
    // candidate volume: same-language pairs + the planted four at most —
    // far under the block's all-pairs space (C(64,2) = 2016) the
    // collapsed form would score in full
    val g = corpus.groupBy(col("text"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("ids").getItem(0).as("gid"),
        substring(col("text"), 1, 40).as("blk"), col("text"))
    val nCands = Dedup.d2PrefixCandidates(g).count()
    // 270 same-language + a handful the planted English bodies admit
    assert(nCands <= 300, s"screen admitted $nCands of 2016 block pairs")
    // and the screened output equals the naive all-pairs reference
    val naive = corpus.as("a").crossJoin(corpus.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        substring(col("a.text"), 1, 40) === substring(col("b.text"), 1, 40))
      .withColumn("j", graft.functions.CharNgramJaccard(col("a.text"), col("b.text"), 3))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(screened == naive)
  }

  test("d24 incremental fuzzy screen recalls planted recrawls with no false matches") {
    val rows = Dedup.d24FuzzyIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    val byId = rows.map(t => t._1 -> t).toMap
    // roster: every new-batch doc appears exactly once
    assert(rows.length == rows.map(_._1).distinct.length)
    val texts = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def wbJ(a: String, b: String): Double = {
      def bg(s: String) = s.trim.split("\\s+").toSeq
        .sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
      val x = bg(a); val y = bg(b)
      x.intersect(y).size.toDouble / x.union(y).size
    }
    def newText(id: Long): String =
      if (id >= 300000) texts(id - 300000)
      else if (id >= 100000) texts(id - 100000) + Dedup.NearTail
      else texts(id)
    val near = (0L until 400L).filter(_ % 10 == 0)
    val exact = (0L until 400L).filter(_ % 15 == 0)
    // exact recrawls: identical text => identical signature => every band
    // collides and the verify scores 1.0 — MUST be flagged; the reported
    // match is the LOWEST verified base doc, which (the corpus has
    // natural one-word-edit near-dups) may precede the source
    exact.foreach { id =>
      val t = byId(id + 300000)
      assert(t._5 == 0L && t._4 <= id, s"exact recrawl of $id: $t")
    }
    // near recrawls: banding recall (d3's)
    val hits = near.count(id => byId(id + 100000)._5 == 0L)
    assert(hits >= near.length * 8 / 10, s"only $hits of ${near.length} near recrawls caught")
    // NO false matches anywhere: every reported match re-verifies at tau
    // against an independently recomputed word-bigram Jaccard
    rows.filter(_._4 >= 0L).foreach { t =>
      val j = wbJ(newText(t._1), texts(t._4))
      assert(j >= 0.5, s"doc ${t._1} matched base ${t._4} but recomputed j=$j")
    }
    // and flagged docs without a planted source are true natural near-dups,
    // not noise: most of the 100 genuinely-new docs stay novel
    val novelNew = (400L until 500L).count(id => byId(id)._5 == 1L)
    assert(novelNew >= 85, s"only $novelNew of 100 new docs novel")
  }

  test("d24 screen from the persisted index equals the one-shot screen") {
    val path = java.nio.file.Files.createTempDirectory("graft-d24").toString
    Dedup.d24IndexWrite(spark, sfDir, path)
    val a = Dedup.d24FuzzyIncremental(spark, sfDir).collect().map(_.toString).toSeq
    val b = Dedup.d24ScreenFrom(spark, sfDir, path).collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("d6 collapsed default (registered) equals the naive all-pairs form") {
    val naive = Dedup.d6Winnowing(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val collapsed = Dedup.d6WinnowingCollapsed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(collapsed == naive)
  }

  test("d3 minhash-LSH candidates include nearly all planted near-dups") {
    val got = Dedup.d3MinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0))
    val hit = planted.count(id => got.contains((id, id + 100000)))
    assert(hit >= planted.length * 8 / 10, s"only $hit of ${planted.length} planted pairs surfaced")
  }

  test("d9 incremental dedup drops re-crawls, collapses in-batch copies, keeps new docs") {
    val rows = Dedup.d9IncrementalDedup(spark, sfDir).collect()
    // survivors are exactly the genuinely-new docs (400..), keyed by the min
    // (un-offset) id — no +100000 re-crawl or +200000 in-batch copy survives
    assert(rows.forall(r => r.getLong(0) >= 400 && r.getLong(0) < 100000),
      "a re-crawl or raw in-batch copy survived as the keeper id")
    val expectedNew = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 400).count()
    assert(rows.length == expectedNew)
    // in-batch duplicated docs (every 20th new doc) report 2 copies, others 1
    rows.foreach { r =>
      val want = if (r.getLong(0) % 20 == 0) 2L else 1L
      assert(r.getLong(2) == want, s"doc ${r.getLong(0)} batch_copies ${r.getLong(2)}")
    }
  }

  test("d4 simhash surfaces planted near-dups with small hamming distance, deterministically") {
    val run1 = Dedup.d4SimHash(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val run2 = Dedup.d4SimHash(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(run1 == run2)
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0))
    val asSet = run1.map(t => (t._1, t._2)).toSet
    val hit = planted.count(id => asSet.contains((id, id + 100000)))
    assert(hit >= planted.length * 8 / 10, s"only $hit of ${planted.length} planted pairs surfaced")
  }

  test("d5 finds exactly the planted embedding copies") {
    val planted = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 20 === 0).select("vec_id").collect().map(_.getLong(0)).toSet
    val got = Dedup.d5EmbeddingNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == planted.map(id => (id, id + 100000)))
  }

  test("d5 salted scale path returns the identical pair set (no broadcast)") {
    val broadcastForm = Dedup.d5EmbeddingNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    val saltedForm = Dedup.d5EmbeddingNearDupSalted(spark, sfDir, salts = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    assert(saltedForm == broadcastForm)
  }

  test("d5 collapsed default (registered) and its salted scale form equal the naive form") {
    val naive = Dedup.d5EmbeddingNearDup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    val collapsed = Dedup.d5EmbeddingNearDupCollapsed(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
    assert(collapsed == naive)
    // threshold -1 so the salted form's real shuffled group-pair join is
    // what gets validated, not an auto-broadcast shortcut
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      val salted = Dedup.d5EmbeddingNearDupCollapsedSalted(spark, sfDir, salts = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq
      assert(salted == naive)
    }
  }

  test("d11 semantic dedup keeps exactly the base corpus (every planted copy pruned)") {
    val baseIds = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = Dedup.d11SemanticDedup(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == baseIds,
      "survivors must be the base vec_ids: planted +100000 copies pruned, nothing organic lost")
    // every cluster id is a real label (the medoid codebook's cid domain)
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(rows.map(_.getInt(1)).toSet.subsetOf(labels))
  }

  test("d11 salted dominance scale path returns identical survivors") {
    val broadcastForm = Dedup.d11SemanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    // with auto-broadcast disabled the salted form must take its real
    // shuffled anti-join path (at this corpus size the replicated build
    // side is tiny enough that the default 10 MB threshold would quietly
    // auto-broadcast it, validating the wrong plan)
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      val saltedForm = Dedup.d11SemanticDedupSalted(spark, sfDir, salts = 4).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(saltedForm == broadcastForm)
    }
  }

  test("d12 fuzzy dedup conserves the corpus and collapses planted near-dups") {
    val rows = Dedup.d12FuzzyDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val corpusSize = graft.Tables.documents(spark, sfDir).count() +
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0).count()
    // conservation: every corpus doc is counted exactly once
    assert(rows.map(_._2 + 1).sum == corpusSize)
    // recall is d3's: >= 80% of planted (id, id+100000) near-dups collapse
    val survivors = rows.map(_._1).toSet
    val planted = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0).select("doc_id").collect().map(_.getLong(0))
    val collapsed = planted.count(id => !(survivors.contains(id) && survivors.contains(id + 100000)))
    assert(collapsed >= planted.length * 8 / 10,
      s"only $collapsed of ${planted.length} planted near-dup pairs collapsed")
  }

  test("d18 equals the keep-longest policy recomputed driver-side and conserves the corpus") {
    val rows = Dedup.d18ClusterRep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val lens = Dedup.corpusNear(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // conservation: every corpus doc lands in exactly one survivor row
    assert(rows.map(_._2).sum == lens.size)
    // ground truth: cluster labels from the family's shared artifact,
    // representative = (max n_chars, then min doc_id) per cluster;
    // unlabeled docs survive as singletons
    val labels = Dedup.clusterArtifact(spark, sfDir)._2.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val labeled = labels.map(_._1).toSet
    val expected = (labels.groupBy(_._2).values.map { members =>
      val ids = members.map(_._1)
      val rep = ids.maxBy(id => (lens(id), -id))
      (rep, ids.size.toLong, lens(rep))
    } ++ lens.keysIterator.filterNot(labeled).map(id => (id, 1L, lens(id))))
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == expected)
    // the semantic flip vs d12: the planted tail-appended variant is strictly
    // longer than its base, so a planted pair's cluster must keep the VARIANT
    val planted = labels.groupBy(_._2).values
      .filter(ms => ms.exists(_._1 >= 100000) && ms.forall(m => lens(m._1) > 0))
    val reps = rows.filter(_._2 > 1).map(_._1).toSet
    planted.foreach { ms =>
      val ids = ms.map(_._1)
      val longest = ids.maxBy(id => (lens(id), -id))
      if (ids.exists(i => i >= 100000 && ids.contains(i - 100000)))
        assert(longest >= 100000 && reps.contains(longest),
          s"cluster ${ids.toList.sorted} kept a non-variant rep")
    }
  }

  test("d19 banding curve: aligned configs nest, 4x4 equals d3, counts match the pair frames") {
    // include the flooding 16x1 config here (small corpus only — the
    // registered query excludes it by design, see BandingConfigs)
    val multi = Dedup.lshPairsMulti(Dedup.corpusNear(spark, sfDir),
        (16, 1) +: Dedup.BandingConfigs)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // structural containment: stricter banding admits a subset of pairs
    val order = Seq((2, 8), (4, 4), (8, 2), (16, 1))
    order.sliding(2).foreach { case Seq(strict, loose) =>
      val (s, l) = (multi.getOrElse(strict, Set.empty), multi.getOrElse(loose, Set.empty))
      assert(s.subsetOf(l), s"$strict pairs not within $loose: ${s diff l}")
    }
    // cross-query identity: the 4x4 config IS d3's banding
    val d3 = Dedup.d3MinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi((4, 4)) == d3)
    // the curve rows report exactly the pair/doc counts of the frames
    val curve = Dedup.d19BandingCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(curve.keySet == Dedup.BandingConfigs.toSet)
    Dedup.BandingConfigs.foreach { cfg =>
      val ps = multi.getOrElse(cfg, Set.empty)
      val docs = ps.flatMap(p => Seq(p._1, p._2))
      assert(curve(cfg) == ((ps.size.toLong, docs.size.toLong)), s"cfg $cfg")
    }
    // looser banding admits at least the planted near-dups the strict one finds
    assert(multi((16, 1)).size >= multi((2, 8)).size)
  }

  test("d13 split leakage counts exactly the near-dup pairs crossing the hash split") {
    val row = Dedup.d13SplitLeakage(spark, sfDir).head()
    val (nTrain, nVal, nPairs, nLeaks) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // the split partitions the corpus (base + planted near-dups)
    val corpusSize = graft.Tables.documents(spark, sfDir).count() +
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0).count()
    assert(nTrain + nVal == corpusSize)
    assert(nLeaks >= 0 && nLeaks <= nPairs)
    // ~90/10 split: train side must dominate but not swallow everything
    assert(nTrain > nVal && nVal > 0)
    // deterministic across runs (content-hash split, no RNG)
    assert(Dedup.d13SplitLeakage(spark, sfDir).head() == row)
  }

  test("d14 cluster-keyed split audits to structurally zero leakage") {
    val row = Dedup.d14ClusterSplit(spark, sfDir).head()
    val (nTrain, nVal, nPairs, nLeaks) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    // same partition-of-the-corpus invariants as d13
    val corpusSize = graft.Tables.documents(spark, sfDir).count() +
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0).count()
    assert(nTrain + nVal == corpusSize)
    assert(nTrain > nVal && nVal > 0)
    // the FIX d13 motivates: splitting by cluster representative makes
    // cross-split near-dup pairs impossible by construction
    assert(nLeaks == 0L, s"cluster-keyed split leaked $nLeaks of $nPairs pairs")
    // same detector as d13's audit: identical pair universe
    assert(nPairs == Dedup.d13SplitLeakage(spark, sfDir).head().getLong(2))
  }

  test("d15 bloom-prefiltered dedup: identical to d9, no false negatives, real pruning") {
    val d15 = Dedup.d15BloomDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val d9 = Dedup.d9IncrementalDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(d15 == d9, "bloom path must be result-identical to the exact anti-join")
    // probe properties: maybe=false rows are provably absent from the
    // existing corpus (no false negatives) ...
    val probe = Dedup.d15Probe(spark, sfDir)
      .select("doc_id", "fp", "maybe").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val existingFp = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 400)
      .select(md5(col("text").cast("binary")).as("fp"))
      .collect().map(_.getString(0)).toSet
    probe.filter(!_._3).foreach { case (id, fp, _) =>
      assert(!existingFp.contains(fp), s"false negative: doc $id fp in corpus but maybe=false")
    }
    // ... every true re-crawl is caught ...
    probe.filter(p => existingFp.contains(p._2)).foreach { case (id, _, maybe) =>
      assert(maybe, s"doc $id is a re-crawl but bloom said definitely-new")
    }
    // ... and the maybe-sliver is actually a sliver: true hits + tiny FP
    // margin, far below the batch size (the point of the pre-filter)
    val trueHits = probe.count(p => existingFp.contains(p._2))
    val maybes = probe.count(_._3)
    assert(maybes < probe.length / 2,
      s"pre-filter prunes nothing: $maybes maybe of ${probe.length}")
    assert(maybes - trueHits <= probe.length / 100 + 2,
      s"false-positive rate too high: ${maybes - trueHits} of ${probe.length}")
  }

  test("d15 sketch persists: write -> reload -> identical result and identical probe decisions") {
    // the recurring-crawl deployment shape: the index's Bloom sketch is
    // written ONCE per index build and every later batch probes the
    // stored artifact
    val path = java.nio.file.Files.createTempDirectory("graft-bloom").toString + "/sketch"
    Dedup.bloomSketchWrite(Dedup.d15ExistingFp(spark, sfDir), path)
    val persisted = Dedup.d15BloomDedupFrom(spark, sfDir, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val inSession = Dedup.d15BloomDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(persisted == inSession, "persisted-sketch d15 diverges from in-session d15")
    // pruning still holds through the round-trip: the reloaded sketch
    // makes exactly the same maybe/definitely-new calls (bit-identical
    // serialized sketch), so the maybe-sliver stays a sliver
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 400)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val fromDisk = Dedup.bloomProbeFrom(Dedup.bloomSketchRead(spark, path), batch)
      .select("doc_id", "maybe").collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val fresh = Dedup.bloomProbe(Dedup.d15ExistingFp(spark, sfDir), batch)
      .select("doc_id", "maybe").collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(fromDisk == fresh, "reloaded sketch probes differently than the fresh sketch")
    assert(fromDisk.values.count(identity) < fromDisk.size / 2, "persisted sketch prunes nothing")
  }

  test("d16 duplication profile conserves the corpus and agrees with d12") {
    val rows = Dedup.d16DupProfile(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.head._1 == 1L, "profile must start at size 1")
    rows.foreach { case (cs, nc, nd) =>
      assert(nd == cs * nc, s"size-$cs row: $nd docs != $cs * $nc")
    }
    // conservation: the profile partitions the corpus (the d12 invariant)
    val corpusSize = graft.Tables.documents(spark, sfDir).count() +
      graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0).count()
    assert(rows.map(_._3).sum == corpusSize)
    // sizes >= 2 clusters match d12's surviving-doc dup counts: a cluster
    // of size k surfaces in d12 as one survivor with k-1 collapsed dups
    val d12Sizes = Dedup.d12FuzzyDedup(spark, sfDir).collect()
      .map(_.getLong(1)).filter(_ > 0).map(_ + 1)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.filter(_._1 >= 2).foreach { case (cs, nc, _) =>
      assert(d12Sizes.getOrElse(cs, 0L) == nc, s"size-$cs cluster count vs d12")
    }
  }

  test("dedup family shares ONE cluster artifact per (session, corpus)") {
    // d12/d13/d14/d16 must all consume the same materialized pair sliver
    // + label frame — the corpus-wide LSH pass and the CC loop run once
    // per corpus, not once per report
    val (p1, l1) = Dedup.clusterArtifact(spark, sfDir)
    val (p2, l2) = Dedup.clusterArtifact(spark, sfDir)
    assert((p1 eq p2) && (l1 eq l2), "artifact recomputed for the same (session, dir)")
    // and it is the d3 pair set (not some divergent copy)
    val fromArtifact = p1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.d3MinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromArtifact == direct)
  }

  test("bloomProbe against an EMPTY index keeps the whole batch (null-sketch guard)") {
    import spark.implicits._
    val existing = Seq.empty[String].toDF("fp")
    val batch = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "fp")
    val rows = Dedup.bloomProbe(existing, batch)
      .select("doc_id", "maybe").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(rows.toSet == Set((1L, false), (2L, false)),
      s"empty index must mark every row definitely-new, got ${rows.toSeq}")
  }

  test("bloomProbe flags every indexed fp and keeps an all-new batch intact") {
    import spark.implicits._
    val existing = Seq("x1", "x2", "x3").toDF("fp")
    val hits = Seq((1L, "x1"), (2L, "x3")).toDF("doc_id", "fp")
    assert(Dedup.bloomProbe(existing, hits).select("maybe")
      .collect().forall(_.getBoolean(0)), "an indexed fp must probe maybe=true")
    val misses = Seq((3L, "y1"), (4L, "y2"), (5L, "y3")).toDF("doc_id", "fp")
    // tiny universe: FPs astronomically unlikely at 8M bits / 3 items
    assert(Dedup.bloomProbe(existing, misses).select("maybe")
      .collect().forall(!_.getBoolean(0)), "an all-new batch must pass untouched")
  }

  test("d11 survivor set is codebook-independent (trained k-means codebook)") {
    val baseIds = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // a k-means codebook the oracle never saw: exact copies still collapse
    // onto their originals (identical embedding -> identical cluster) and
    // nothing organic crosses the 0.99 margin, so the survivor set is the
    // same regardless of how the space was carved
    val rows = Dedup.d11SemanticDedupTrained(spark, sfDir, k = 6).collect()
    assert(rows.map(_.getLong(0)).toSet == baseIds)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import graft.operators.{TextAnalysis => T}

  test("token counts on literal rows") {
    import spark.implicits._
    val df = Seq("a b  c", " x ", "", "one,two three").toDF("text")
      .select(T.tokenCount(col("text")).as("t"), T.subTokenCount(col("text")).as("s"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((3, 3), (1, 1), (0, 0), (2, 4)))
  }

  test("t5 chunks reassemble the document (stride segments)") {
    val doc = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 1).select("text").head().getString(0)
    val chunks = TextAnalysis.t5Chunking(spark, sfDir)
      .filter(col("doc_id") === 1).orderBy("chunk_idx").collect()
    val expectedN = math.ceil(doc.length / TextAnalysis.ChunkStep.toDouble).toInt
    assert(chunks.length == expectedN)
    chunks.foreach { r =>
      val idx = r.getInt(1)
      val expected = doc.substring(idx * TextAnalysis.ChunkStep,
        math.min(idx * TextAnalysis.ChunkStep + TextAnalysis.ChunkSize, doc.length))
      assert(r.getAs[Int]("chunk_len") == expected.length)
    }
  }

  test("t3 every document gets exactly one prediction") {
    val total = TextAnalysis.t3LangId(spark, sfDir).agg(sum("docs")).head().getLong(0)
    assert(total == graft.Tables.documents(spark, sfDir).count())
  }
}

class EventsSpec extends SparkSpec {
  test("e1 session gaps respect the 30-minute rule") {
    val sessions = Events.e1Sessionize(spark, sfDir).collect()
    // sessions of the same user must be separated by > gap
    sessions.groupBy(_.getLong(0)).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("session_seq"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") > Events.SessionGapUs)
        case _ =>
      }
    }
    val total = sessions.map(_.getAs[Long]("n_events")).sum
    assert(total == graft.Tables.events(spark, sfDir).count())
  }

  test("e2 hourly rollup total equals event count") {
    val total = Events.e2TumblingWindow(spark, sfDir).agg(sum("cnt")).head().getLong(0)
    assert(total == graft.Tables.events(spark, sfDir).count())
  }

  test("e3 funnel stages are monotone and match a brute-force per-user check") {
    val r = Events.e3Funnel(spark, sfDir).head()
    val (s1, s2, s3) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(s1 >= s2 && s2 >= s3, s"($s1, $s2, $s3)")
    assert(s1 > 0)
    // brute force on the driver: earliest signup, then earliest later click,
    // then earliest later purchase, per user
    val byUser = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().groupBy(_.getLong(0))
    var (n1, n2, n3) = (0L, 0L, 0L)
    byUser.foreach { case (_, rows) =>
      val evs = rows.map(x => (x.getLong(1), x.getString(2)))
      val t1 = evs.collect { case (us, "signup") => us }.minOption
      val t2 = t1.flatMap(t => evs.collect { case (us, "click") if us > t => us }.minOption)
      val t3 = t2.flatMap(t => evs.collect { case (us, "purchase") if us > t => us }.minOption)
      if (t1.isDefined) n1 += 1
      if (t2.isDefined) n2 += 1
      if (t3.isDefined) n3 += 1
    }
    assert((s1, s2, s3) == ((n1, n2, n3)))
  }
}

class EventPathsSpec extends SparkSpec {
  test("e5 top session paths match a brute-force walk") {
    val got = Events.e5EventPaths(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // brute force: walk each user's events in order, split at 30-min gaps,
    // emit every in-session trigram
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val paths = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val sessions = ordered.foldLeft(Vector.empty[Vector[String]]) { (acc, r) =>
        if (acc.isEmpty) Vector(Vector(r._4))
        else {
          val prevUs = ordered(acc.map(_.size).sum - 1)._2
          if (r._2 - prevUs > Events.SessionGapUs) acc :+ Vector(r._4)
          else acc.init :+ (acc.last :+ r._4)
        }
      }
      sessions.flatMap(s => s.sliding(3).filter(_.size == 3).map(_.mkString(">")))
    }
    val want = paths.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .toSeq.sortBy { case (p, c) => (-c, p) }.take(Events.PathTopK)
    assert(got == want)
  }
}

class RetentionSpec extends SparkSpec {
  test("e4 cohorts: offsets are non-negative and offset-0 covers every user once") {
    val rows = Events.e4Retention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 0), "negative week_offset")
    // every user appears in its own cohort's week-0 cell exactly once, so
    // summing n_users over offset-0 rows equals the distinct-user count
    val week0 = rows.filter(_.getLong(1) == 0).map(_.getLong(2)).sum
    val users = graft.Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(week0 == users, s"week-0 coverage $week0 != $users users")
    // and no (cohort, offset) cell can exceed its cohort's week-0 size
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (c, rs) =>
      val base = rs.find(_.getLong(1) == 0).map(_.getLong(2)).getOrElse(0L)
      assert(rs.forall(_.getLong(2) <= base), s"cohort $c retains more users than it has")
    }
  }
}

class SpikeDaysSpec extends SparkSpec {
  test("e6 spike flags match a driver-side recompute over the daily counts") {
    val rows = Events.e6SpikeDays(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4)))
    assert(rows.nonEmpty)
    val byTypeDay = rows.map(r => (r._1, r._2) -> r._3).toMap
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    rows.foreach { case (et, day, c, cPrev, spike) =>
      val prevDay = java.time.LocalDate.parse(day, fmt).minusDays(1).format(fmt)
      assert(cPrev == byTypeDay.get((et, prevDay)), s"$et $day c_prev")
      val want = cPrev.exists(p => c * 10 > p * 15)
      assert(spike == (if (want) 1 else 0), s"$et $day spike")
    }
    // daily counts partition the events table
    assert(rows.map(_._3).sum == graft.Tables.events(spark, sfDir).count())
  }

  test("e11 gap percentiles match a driver-side exact-rank recompute") {
    val got = Events.e11GapPercentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = evs.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((et, _), rs) =>
      rs.toSeq.sortBy(r => (r._4, r._3)).sliding(2).collect {
        case Seq(a, b) => et -> (b._4 - a._4).toDouble
      }
    }.groupBy(_._1).map { case (et, gs) =>
      val sorted = gs.map(_._2).sorted
      def pct(p: Double) = sorted(math.ceil(p * sorted.length).toInt - 1)
      et -> ((pct(0.5), pct(0.95), sorted.length.toLong))
    }
    assert(got == want, s"divergence: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("e10 z-scores match a driver-side recompute of the trailing-window stats") {
    val rows = Events.e10AnomalyDays(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // independent daily counts (grouping reuses Spark's date cast; the
    // window math under test is recomputed from scratch below)
    val daily = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), date_format(col("ts").cast("date"), "yyyy-MM-dd").as("day"))
      .groupBy("event_type", "day").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val want = daily.groupBy(_._1).flatMap { case (et, rs) =>
      val ordered = rs.sortBy(_._2)
      ordered.indices.filter(_ >= Events.ZWin).map { i =>
        val frame = ordered.slice(i - Events.ZWin, i).map(_._3)
        val (n, s1, s2) = (Events.ZWin.toLong, frame.sum, frame.map(c => c * c).sum)
        val z = if (n * s2 == s1 * s1) None
          else Some(math.floor(1000.0 * (n * ordered(i)._3 - s1) /
            math.sqrt((n * s2 - s1 * s1).toDouble)).toLong)
        (et, ordered(i)._2) -> ((ordered(i)._3, z))
      }
    }
    assert(rows.length == want.size, s"${rows.length} rows vs ${want.size} expected")
    rows.foreach { case (et, day, c, z, anomaly) =>
      val (wc, wz) = want((et, day))
      assert(c == wc && z == wz, s"$et $day: got ($c, $z) want ($wc, $wz)")
      assert(anomaly == z.exists(v => math.abs(v) >= Events.ZThreshMilli), s"$et $day flag")
    }
  }
}

class WauSpec extends SparkSpec {
  test("e7 trailing-7-day distinct users matches a brute-force window walk") {
    val got = Events.e7Wau(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ud = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").cast("string").as("day"))
      .distinct().collect().map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    assert(got.nonEmpty && ud.nonEmpty)
    val days = ud.map(_._2).distinct
    days.foreach { d =>
      val want = ud.filter { case (_, ad) =>
        !ad.isAfter(d) && !ad.isBefore(d.minusDays(6))
      }.map(_._1).distinct.length.toLong
      assert(got(d.toString) == want, s"day $d")
    }
    assert(got.size == days.size)
  }
}

class ScaleShapeSpec extends SparkSpec {
  test("e7 plans without a range join (no nested-loop or cartesian operator)") {
    val plan = Events.e7Wau(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"WAU must not plan a range join:\n$plan")
  }

  test("d10 plans without a Window over the line key (skew-immune min-agg form)") {
    val plan = Dedup.d10LineDedup(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"d10 must not window over line norms:\n$plan")
  }

  test("d3 plans without a join and without a doc-keyed shingle exchange") {
    val plan = Dedup.d3MinHashLsh(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bucket-walk d3 must not self-join:\n$plan")
    assert(plan.contains("minhash_sig"), s"signature must be the fused expression:\n$plan")
  }

  test("d17 plans the rolling hash, no window over the fingerprint key, no cartesian") {
    val plan = Dedup.d17SubstringDedup(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("token_window_hashes"),
      s"window hashing must be the fused rolling expression:\n$plan")
    // first occurrence must stay the map-side-combined agg + join (AQE
    // skew-protectable), never a Window sorted over the hot h key; the
    // only Window allowed is the per-doc island pass
    assert(!plan.contains("windowspecdefinition(h#"),
      s"d17 must not window over the fingerprint key:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"d17 must not plan a cross product:\n$plan")
  }

  test("q39 cube: one fact scan, one Expand, one aggregate exchange") {
    val plan = Analytics.q39Cube(spark, sfDir).queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).size == 1,
      s"cube must expand once, inline:\n$plan")
    assert("FileScan|Scan parquet".r.findAllIn(plan).size == 1,
      s"cube must read the fact table once:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"cube needs exactly the one grouping-sets agg exchange:\n$plan")
  }

  test("q40 share-of-day plans with NO Window (the low-cardinality-key anti-shape)") {
    val plan = Analytics.q40ShareOfDay(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q40's whole point is avoiding the day-partitioned window:\n$plan")
  }

  test("e9 churn: no Window, one user-keyed aggregate exchange, broadcast corpus max") {
    val plan = Events.e9Churn(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"e9 must not window:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"only the per-user max agg may hash-exchange:\n$plan")
    assert(plan.contains("Broadcast"),
      s"the one-row corpus max must broadcast back:\n$plan")
  }

  test("t17 reads the corpus ONCE at runtime: ctf and total reuse the tf shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Quality.t17UnigramLm(spark, sfDir)
    df.collect()
    val aqe = df.queryExecution.executedPlan
      .collectFirst { case a: AdaptiveSparkPlanExec => a }.get
    val finalPlan = aqe.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(finalPlan).size == 1,
      s"all three consumers of tf must reuse one corpus scan+shuffle:\n$finalPlan")
    assert(!finalPlan.contains("Window"), s"t17 must not window:\n$finalPlan")
  }

  test("t18: bucket-walk candidates, broadcast-sliver verify joins only") {
    val plan = Quality.t18FuzzyDecontam(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("minhash_sig"), s"signature must be the fused expression:\n$plan")
    // the verify stage attaches text via the broadcast candidate sliver;
    // the corpus itself must never shuffle for a join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"verify joins must build on the broadcast sliver:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
      s"exactly the two text-attach joins:\n$plan")
    assert(plan.contains("word_bigram_jaccard"),
      s"verify scorer must be the codegen'd expression:\n$plan")
  }

  test("e10 windows AFTER the daily rollup: one scan, one Window node") {
    val plan = Events.e10AnomalyDays(spark, sfDir).queryExecution.executedPlan.toString
    assert("Scan parquet|FileScan".r.findAllIn(plan).size == 1,
      s"e10 must read events once:\n$plan")
    assert("Window".r.findAllIn(plan).size == 1,
      s"all three accumulators must share ONE Window node:\n$plan")
    // the window's sort must sit above the (type, day) agg exchange, i.e.
    // exactly two hash exchanges: the rollup and the window partition
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2,
      s"window must run over the group-count-bound rollup:\n$plan")
  }
}

class DebounceSpec extends SparkSpec {
  test("e8 keeps first-in-window events and never more than the total") {
    val rows = Events.e8Debounce(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, k) => assert(k >= 1 && k <= n, s"$et") }
    // brute-force recompute on one event type
    val et0 = rows.head._1
    val evs = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === et0)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = evs.groupBy(_._1).values.map { rs =>
      val ordered = rs.sortBy(r => (r._2, r._3))
      // lag semantics: compared against the immediately preceding event,
      // kept or not (matches the operator and the oracle)
      ordered.foldLeft((0L, Option.empty[Long])) { case ((kept, prev), r) =>
        val isKept = prev.forall(p => r._2 - p > Events.DebounceUs)
        (kept + (if (isKept) 1L else 0L), Some(r._2))
      }._1
    }.sum
    assert(rows.find(_._1 == et0).get._3 == want)
  }
}

class BucketSpec extends SparkSpec {
  test("q34 buckets partition the orders table and respect their boundaries") {
    val rows = Analytics.q34BucketHistogram(spark, sfDir).collect()
    val total = graft.Tables.orders(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val b = r.getLong(0)
      assert(b >= 0 && b < Analytics.NumBuckets)
      val (lo, hi) = (b * Analytics.BucketWidth, (b + 1) * Analytics.BucketWidth)
      assert(r.getDouble(3) >= lo, s"bucket $b min below boundary")
      if (b < Analytics.NumBuckets - 1)
        assert(r.getDouble(4) < hi, s"bucket $b max above boundary")
    }
  }
}

class PivotSpec extends SparkSpec {
  test("q33 cells partition each user's events exactly") {
    val rows = Analytics.q33PivotActivity(spark, sfDir)
    // one row per user, n_events sums to the fact count
    assert(rows.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    assert(rows.agg(sum("n_events")).head().getLong(0) ==
      graft.Tables.events(spark, sfDir).count())
    // a cell equals the independently-filtered per-type sum for one user
    val probe = rows.orderBy("user_id").head()
    val want = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") === probe.getLong(0) && col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")).head()
    assert(probe.getAs[Any]("purchase_value") == want.getAs[Any](0))
  }
}

class MultimodalDecodeSpec extends SparkSpec {
  test("frame extraction emits FramesPerAsset deterministic features per asset") {
    val assets = MultimodalDecode.assetsFromDocuments(spark, sfDir)
    val feats = MultimodalDecode.extractFrameFeatures(assets)
    val n = assets.count()
    assert(feats.count() == n * MultimodalDecode.FramesPerAsset)
    val once = feats.collect().sortBy(f => (f.asset_id, f.frame_idx)).toSeq
    val again = MultimodalDecode.extractFrameFeatures(assets).collect()
      .sortBy(f => (f.asset_id, f.frame_idx)).toSeq
    assert(once == again)
    once.foreach { f => assert(f.mean_luma >= 0.0 && f.mean_luma <= 1.0) }
  }

  test("empty payload decodes to a degenerate frame instead of throwing") {
    val (w, h, luma) = MultimodalDecode.decodeFrame(Array.emptyByteArray, 2)
    assert(w == 16 && h == 16 && luma == 0.0)
  }

  test("embedAssets matches the SQL-expression arithmetic component for component") {
    // ties the typed mapPartitions embed (what m3 runs) to the exact
    // arithmetic the DuckDB oracle computes: dims 0-1 decode geometry,
    // dims 2-7 md5-prefix mod 1024, all k/1024 dyadic
    val assets = MultimodalDecode.assetsFromDocuments(spark, sfDir)
    val typed = MultimodalDecode.embedAssets(assets).collect()
      .map(e => e.asset_id -> e.embedding.toSeq).toMap
    val viaSql = assets.toDF()
      .withColumn("text", col("payload").cast("string"))
      .select(col("asset_id"), expr(
        """array(
          | cast(((16 + pmod(octet_length(payload), 16) * 8) * 4 - 512) / double(1024) as float),
          | cast(((16 + pmod(octet_length(payload) div 16, 16) * 8) * 4 - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('2', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('3', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('4', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('5', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('6', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float),
          | cast((pmod(cast(conv(substring(md5(concat('7', text)), 1, 15), 16, 10) as bigint), 1024) - 512) / double(1024) as float))""".stripMargin).as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(typed.keySet == viaSql.keySet)
    typed.foreach { case (id, e) => assert(e == viaSql(id), s"asset $id") }
  }

  test("m3 multimodal semantic dedup prunes every planted re-upload, keeps media_type") {
    val rows = Multimodal.m3SemanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val baseIds = graft.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = rows.map(_._1).toSet
    // every planted +100000 copy embeds identically to its original and
    // must be dominated away
    assert(survivors.forall(baseIds.contains), "a planted copy survived")
    // organic assets may legitimately collide in the 8-dim stub space,
    // but never more than a sliver of the corpus
    assert(survivors.size >= baseIds.size * 95 / 100,
      s"only ${survivors.size} of ${baseIds.size} organic assets survived")
    // media_type rides through unchanged
    val types = graft.Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).map(id => id -> (id % 3 match {
        case 0 => "image"; case 1 => "audio"; case _ => "video" })).toMap
    rows.foreach { case (id, mt, _) => assert(types(id) == mt, s"asset $id") }
    // cluster ids come from the 8-entry codebook
    assert(rows.map(_._3).toSet.subsetOf((0L until 8L).toSet))
  }
}
