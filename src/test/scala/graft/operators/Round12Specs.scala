package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** t31: structured PII scan — planted-class recall, checksum behavior,
  * and the pure-map plan contract (the t29 class). */
class PiiScanSpec extends SparkSpec {

  private def luhn(s: String): Boolean = {
    val tot = s.reverse.zipWithIndex.map { case (ch, idx) =>
      val d = ch - '0'
      if (idx % 2 == 0) d else if (2 * d > 9) 2 * d - 9 else 2 * d
    }.sum
    tot % 10 == 0
  }

  test("t31 fixture card numbers are Luhn-valid / Luhn-invalid as planted") {
    assert(luhn("4539578763621486"), "the %11 plant must be Luhn-valid")
    assert(!luhn("4539578763621487"), "the %13 plant must be Luhn-invalid")
  }

  test("t31 detects every planted class and nothing organic") {
    val rows = TextAnalysis.t31PiiScan(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6)))).toMap
    rows.foreach { case (id, (email, phone, ipv4, seen, valid, has)) =>
      if (id % 5 == 0) {
        assert(email >= 1, s"doc $id: planted email missed")
        assert(phone == 2, s"doc $id: expected 2 planted phones, got $phone")
      }
      if (id % 7 == 0)
        // 10.0.0.42 is valid; 192.168.300.7 has an out-of-range octet
        assert(ipv4 == 1, s"doc $id: octet validation failed ($ipv4)")
      if (id % 11 == 0)
        assert(valid >= 1, s"doc $id: Luhn-valid card missed")
      if (id % 13 == 0 && id % 11 != 0)
        assert(seen >= 1 && valid == 0,
          s"doc $id: Luhn must reject the %13 plant (seen=$seen valid=$valid)")
      if (id % 5 != 0 && id % 7 != 0 && id % 11 != 0 && id % 13 != 0)
        assert(has == 0, s"doc $id: organic corpus text flagged as PII")
      else if (id % 5 == 0 || id % 7 == 0 || id % 11 == 0)
        assert(has == 1, s"doc $id: planted PII not reflected in has_pii")
    }
  }

  test("t31 is a pure map stage: no join, no explode, no hash shuffle") {
    val plan = TextAnalysis.t31PiiScan(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"t31 must not join:\n$plan")
    assert(!plan.contains("Generate"), s"t31 must not explode:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"t31 must not hash-shuffle:\n$plan")
  }
}

/** t32: tokenizer fertility report — invariants, cross-check against the
  * per-doc t21 counts, and the single-aggregate plan. */
class TokenizerFertilitySpec extends SparkSpec {

  test("t32 conserves docs and agrees with t21's per-doc BPE counts") {
    val rows = TextAnalysis.t32TokenizerFertility(spark, sfDir).collect()
    val total = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == total, "docs must conserve")
    // per-lang BPE mass must equal the independently-computed t21 rollup
    val t21ByLang = TextAnalysis.t21BpeCount(spark, sfDir)
      .join(graft.Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(sum("bpe_tokens").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(3) == t21ByLang(r.getString(0)),
        s"lang ${r.getString(0)}: t32 bpe mass diverges from t21")
    }
  }

  test("t32 ratio invariants: fertility and chars-per-token are >= 1 token/word") {
    val rows = TextAnalysis.t32TokenizerFertility(spark, sfDir).collect()
    rows.foreach { r =>
      val (words, bpe, chars) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bpe >= words, "BPE never emits fewer tokens than words")
      assert(chars >= bpe, "every BPE token covers at least one character")
      assert(r.getLong(5) >= 1000000L, "fertility_ppm must be >= 1e6")
      assert(r.getLong(6) >= 1000000L, "chars_per_token_ppm must be >= 1e6")
      // exact integer floor-division recompute
      assert(r.getLong(5) == bpe * 1000000L / words)
      assert(r.getLong(6) == chars * 1000000L / bpe)
    }
  }

  test("t32 is one map stage into a lang-bound aggregate: no joins") {
    val plan = TextAnalysis.t32TokenizerFertility(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"t32 must not join:\n$plan")
    assert(!plan.contains("Generate"), s"t32 must not explode:\n$plan")
  }
}

/** s18: range search / vector-level ingest check — driver recompute of
  * every verdict, the exact-re-upload guarantee, and the broadcast plan. */
class RangeSearchSpec extends SparkSpec {

  test("s18 verdicts equal the from-definition recompute; re-uploads always match") {
    val got = Similarity.s18RangeSearch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // rebuild the query batch: 3:1 blends (float32-rounded) + re-uploads
    val byId = vecs.toMap
    val blends = (0 until Similarity.NumExternalQueries).map { i =>
      val a = byId(2L * i); val b = byId(2L * i + 1)
      (i.toLong, a.indices.map(j => ((3.0 * a(j) + b(j)) / 4.0).toFloat).toArray)
    }
    val reups = (100L until 105L).map(id => (id + 900, byId(id)))
    (blends ++ reups).foreach { case (qid, q) =>
      val inRange = vecs.filter { case (_, v) => cos(q, v) >= Similarity.RangeTau }
      val expect =
        if (inRange.isEmpty) (0L, -1L, 1)
        else (inRange.length.toLong, inRange.map(_._1).min, 0)
      assert(got(qid) == expect, s"qid $qid: got ${got(qid)}, expected $expect")
    }
    // every exact re-upload MUST match its original (cosine 1.0 >= tau)
    reups.foreach { case (qid, _) =>
      assert(got(qid)._3 == 0 && got(qid)._2 >= 0, s"re-upload $qid reported novel")
    }
  }

  test("s18 plans as one scan with a broadcast query batch, no top-k state") {
    val plan = Similarity.s18RangeSearch(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch must broadcast:\n$plan")
    assert(!plan.contains("topkbyscore"), s"range search carries no top-k state:\n$plan")
  }
}

/** t33: self-trained bigram-LM surprisal — full from-definition driver
  * recompute of the model and every per-doc score, plus the order
  * sensitivity t17 cannot have. */
class BigramLmSpec extends SparkSpec {

  test("t33 scores equal the from-definition recompute on every document") {
    val got = Quality.t33BigramLm(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector))
    val bigramsByDoc = docs.map { case (id, w) =>
      (id, if (w.length >= 2) w.sliding(2).map(p => p(0) + " " + p(1)).toVector
           else Vector.empty[String])
    }
    val c12 = bigramsByDoc.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1h = c12.toSeq.groupBy(_._1.split(' ')(0)).map { case (w1, xs) => w1 -> xs.map(_._2).sum }
    val v = c12.keySet.map(_.split(' ')(1)).size.toLong
    def cost(bg: String): Long =
      math.floor(math.log((c1h(bg.split(' ')(0)) + v).toDouble / (c12(bg) + 1)) * 1e6).toLong
    bigramsByDoc.foreach { case (id, bgs) =>
      if (bgs.nonEmpty) {
        val sur = bgs.map(cost).sum
        val expect = (bgs.size.toLong, sur, sur / bgs.size)
        assert(got(id) == expect, s"doc $id: got ${got(id)}, expected $expect")
      } else assert(!got.contains(id), s"doc $id has no transitions but was scored")
    }
  }

  test("t33 stored model scores the training corpus identically; unseen transitions take add-1 fallbacks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t33lm").toString
    Quality.t33LmWrite(spark, sfDir, s"$tmp/model")
    // stored ≡ in-session on the training corpus, bit for bit
    val stored = Quality.t33ScoreFrom(spark, s"$tmp/model",
        graft.Tables.documents(spark, sfDir).select("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val insession = Quality.t33BigramLm(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stored == insession, "stored-model scores diverge from in-session t33")
    // fallback arithmetic: rebuild the model driver-side
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => "[a-z0-9]+".r.findAllIn(r.getString(1).toLowerCase).toVector)
    val c12 = docs.flatMap(w => if (w.length >= 2) w.sliding(2).map(p => p(0) + " " + p(1)) else Nil)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1h = c12.toSeq.groupBy(_._1.split(' ')(0)).map { case (w1, xs) => w1 -> xs.map(_._2).sum }
    val v = c12.keySet.map(_.split(' ')(1)).size.toLong
    val w1known = c1h.keysIterator.next() // any known history
    // a doc with one transition out of a KNOWN history to an unseen word,
    // and one transition out of an UNSEEN history
    val batch = Seq((7777L, s"$w1known zzzunseen qqqnovel zzzother"))
      .toDF("doc_id", "text")
    val got = Quality.t33ScoreFrom(spark, s"$tmp/model", batch).collect()(0)
    val costKnown = math.floor(math.log((c1h(w1known) + v).toDouble) * 1e6).toLong
    val costUnknown = math.floor(math.log(v.toDouble) * 1e6).toLong
    // transitions: (w1known zzzunseen) -> known-history sentinel;
    // (zzzunseen qqqnovel), (qqqnovel zzzother) -> global default
    val expectSur = costKnown + 2 * costUnknown
    assert(got.getLong(1) == 3L && got.getLong(2) == expectSur,
      s"fallback costs diverge: got (${got.getLong(1)}, ${got.getLong(2)}), expected (3, $expectSur)")
  }

  test("t33 is order-aware: a scrambled corpus shifts surprisal where t17 is blind") {
    // reversing every document's word order preserves all unigram
    // statistics exactly (t17 scores are invariant) but replaces every
    // transition with its reverse — the self-trained model re-fits, yet
    // the per-doc score VECTOR moves because transition mass re-buckets
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rev = docs.map { case (id, t) =>
      (id, "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector.reverse.mkString(" "))
    }.toSeq.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("t33rev").toString
    rev.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // the reversed corpus still scores (the operator is total), and the
    // distribution is not just a permutation artifact: totals differ
    val a = Quality.t33BigramLm(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = Quality.t33BigramLm(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b.nonEmpty && b.keySet == a.keySet)
    assert(a.count { case (k, s) => b(k) != s } > 0,
      "word-order reversal must move at least one bigram score")
  }
}

/** v6: fetch-by-ids — point-read semantics (absent ids omitted), exact
  * payload receipts, and the pushed-filter plan contract. */
class FetchByIdsSpec extends SparkSpec {

  test("v6 returns exactly the present ids with exact payload receipts") {
    val got = Similarity.v6FetchByIds(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    val store = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Float](2).toArray))).toMap
    val present = Similarity.FetchIds.filter(store.contains)
    assert(got.keySet == present.toSet, "fetch must return exactly the found ids")
    assert(!got.contains(999999L), "an absent id must be silently omitted")
    present.foreach { id =>
      val (label, emb) = store(id)
      val checksum = emb.map(x => math.floor(x.toDouble * 1e6).toLong).sum
      assert(got(id) == ((label, emb.length.toLong, checksum)),
        s"vec $id: receipt diverges")
    }
  }

  test("v6 pushes the id batch into the parquet scan") {
    val plan = Similarity.v6FetchByIds(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"fetch must not scan the store — ids must push down:\n$plan")
  }
}

/** e12: the event-transition matrix — driver recompute from raw events
  * and the distribution contract. */
class MarkovTransitionsSpec extends SparkSpec {

  test("e12 equals the from-definition recompute; rows are conditional distributions") {
    val got = Events.e12MarkovTransitions(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pairs = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (e._3, e._4)).sliding(2).collect {
        case Array(a, b) => (a._2, b._2)
      }
    }
    val n = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tot = n.toSeq.groupBy(_._1._1).map { case (f, xs) => f -> xs.map(_._2).sum }
    val expect = n.map { case (k, c) => k -> ((c, c * 1000000L / tot(k._1))) }
    assert(got == expect, "transition matrix diverges from the recompute")
    // each from_type's ppm column is a (floored) probability distribution
    got.keys.map(_._1).toSet.foreach { (f: String) =>
      val ppm = got.collect { case ((`f`, _), (_, p)) => p }.sum
      assert(ppm <= 1000000L && ppm > 1000000L - got.size,
        s"$f: ppm column does not sum to ~1e6 ($ppm)")
    }
  }

  test("e12 windows only over the high-cardinality user key") {
    val plan = Events.e12MarkovTransitions(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "the lead() window must exist")
    assert(!plan.contains("partitionBy=[event_type]"),
      s"never a low-cardinality window key:\n$plan")
  }
}

/** p6: the composed RAG index build — conservation, a full driver-side
  * recompute of chunk/embed/assign, and the fused-map plan contract. */
class RagIndexBuildSpec extends SparkSpec {

  private def embed(chunk: String): Array[Float] = (0 until 8).map { k =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest((k.toString + chunk).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    ((java.lang.Long.parseLong(hex, 16) % 1024 - 512).toDouble / 1024.0).toFloat
  }.toArray

  test("p6 ledger equals the from-definition chunk/embed/assign recompute") {
    val got = Retrieval.p6RagIndexBuild(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.nonEmpty)
    val step = TextAnalysis.ChunkStep; val size = TextAnalysis.ChunkSize
    val chunks = docs.flatMap { case (id, t) =>
      (0 until math.ceil(t.length / step.toDouble).toInt).map { i =>
        val start = i * step
        (id, i, t.substring(start, math.min(start + size, t.length)))
      }
    }
    val cents = chunks.filter(c => c._2 == 0 && c._1 < 8).sortBy(_._1)
      .map(c => (c._1, embed(c._3)))
    val assigned = chunks.map { case (id, _, chunk) =>
      val e = embed(chunk)
      // first-max wins — the NearestIndex tie rule (cents sorted by cid)
      var best = -1L; var bs = Double.NegativeInfinity
      cents.foreach { case (cid, c) =>
        val s = cos(e, c); if (s > bs) { bs = s; best = cid }
      }
      (id, best)
    }
    val total = assigned.length.toLong
    val expect = assigned.groupBy(_._2).map { case (cid, xs) =>
      cid -> ((xs.length.toLong, xs.map(_._1).distinct.length.toLong,
        xs.length.toLong * 1000000L / total))
    }
    assert(got == expect, s"ledger diverges:\ngot   $got\nwant $expect")
    // conservation: every chunk lands in exactly one list
    assert(got.values.map(_._1).sum == total)
  }

  test("p6 plans as a fused map stage: no sort-merge join, no window, broadcast codebook") {
    val plan = Retrieval.p6RagIndexBuild(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"p6 must not SMJ:\n$plan")
    assert(!plan.contains("Window"), s"p6 must not window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"codebook must broadcast:\n$plan")
  }
}

/** d25: prototypicality pruning — full driver-side recompute of the
  * assignment, cutoffs, and survivor set, plus the no-corpus-window plan
  * contract. */
class ProtoPruneSpec extends SparkSpec {

  test("d25 survivors equal the from-definition recompute; each cluster drops ~25%") {
    val got = Dedup.d25ProtoPrune(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    // driver recompute: codebook -> first-max assignment -> per-cluster
    // cutoff at rank ceil(0.75 n) -> value-based keep
    val cbRow = Dedup.d11MedoidCodebook(spark, sfDir).collect()(0)
    val cids = cbRow.getSeq[Int](0)
    val cembs = cbRow.getSeq[scala.collection.Seq[Float]](1).map(_.toArray)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val scored = vecs.map { case (id, emb) =>
      var best = -1; var bs = Double.NegativeInfinity
      cembs.zipWithIndex.foreach { case (c, j) =>
        val s = cos(emb, c)
        if (s > bs) { bs = s; best = j } // first max wins, the NearestIndex rule
      }
      (id, cids(best), bs)
    }
    val expect = scored.groupBy(_._2).toSeq.flatMap { case (cid, members) =>
      val sortedScores = members.map(_._3).sorted
      val cut = sortedScores(math.ceil(0.75 * members.length).toInt - 1)
      members.filter(_._3 <= cut).map(m => (m._1, cid))
    }.toSet
    assert(got == expect, "survivor set diverges from the from-definition recompute")
    // the drop is real and bounded: 0 < dropped <= 25% + ties per cluster
    val byCluster = scored.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      val kept = got.count(_._2 == cid)
      assert(kept < members.length, s"cluster $cid dropped nothing")
      assert(kept >= math.ceil(0.75 * members.length).toInt,
        s"cluster $cid dropped more than the 25% contract")
    }
  }

  test("d25 plans without a corpus-sorting window: no row_number, cutoffs broadcast") {
    val plan = Dedup.d25ProtoPrune(spark, sfDir).queryExecution.executedPlan.toString
    // the t20 rule: the cutoff must come from the bounded quantile stack,
    // never a row_number window partitioned by the low-cardinality cid
    assert(!plan.contains("row_number"), s"d25 must not rank via row_number:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the cutoff sliver must broadcast back:\n$plan")
  }
}

/** e13: first/last-touch purchase attribution — full driver-side
  * recompute, conservation across channels, and the one-window plan. */
class AttributionSpec extends SparkSpec {

  test("e13 equals the from-definition walk of each user's journey") {
    val got = Events.e13Attribution(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val credited = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      var ft: String = null; var lt: String = null
      es.sortBy(e => (e._3, e._4)).flatMap { e =>
        if (e._2 == "purchase") {
          Seq(("first_touch", Option(ft).getOrElse("direct"), e._5),
              ("last_touch", Option(lt).getOrElse("direct"), e._5))
        } else { if (ft == null) ft = e._2; lt = e._2; Nil }
      }
    }
    val expect = credited.groupBy(c => (c._1, c._2)).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._3).sum))
    }
    assert(got == expect, "attribution diverges from the journey walk")
    // conservation: each model credits every purchase dollar exactly once
    val totalCents = events.filter(_._2 == "purchase").map(_._5).sum
    val nPurch = events.count(_._2 == "purchase").toLong
    Seq("first_touch", "last_touch").foreach { m =>
      val rows = got.toSeq.collect { case ((`m`, _), v) => v }
      assert(rows.map(_._1).sum == nPurch, s"$m loses purchases")
      assert(rows.map(_._2).sum == totalCents, s"$m loses cents")
    }
  }

  test("e13 computes both models in one user-keyed window pass") {
    val plan = Events.e13Attribution(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.split("Window \\[").length == 2,
      s"both IGNORE-NULLS frames must share one Window node:\n$plan")
    assert(!plan.contains("partitionBy=[event_type]"),
      s"never a low-cardinality window key:\n$plan")
  }
}

/** p7: the snapshot promotion gate — the oracle pair's verdict, and a
  * planted candidate per failure mode (partial crawl, language drop,
  * re-concatenated shards), each flagging exactly its own check. */
class PromotionGateSpec extends SparkSpec {

  private def gate(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
    Corpus.promotionGateFrames(a, b).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("p7 oracle pair promotes: churn under every threshold") {
    val got = Corpus.p7PromotionGate(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet.size == 5)
    got.foreach { case (k, (obs, lim, ok)) =>
      val pass = if (k == "d_langs_dropped") obs == 0 else obs <= lim
      assert(ok == (if (pass) 1L else 0L), s"$k verdict inconsistent")
    }
    assert(got("e_promote")._3 == 1, "the oracle pair must promote")
    assert(got("a_removed_pct")._1 == 11, "planted churn is 11%")
  }

  test("p7 rejects a partial crawl on the removal + token checks") {
    val a = docs((1L to 10L).map(i => (i, s"alpha beta doc $i", "en")))
    val b = docs((1L to 6L).map(i => (i, s"alpha beta doc $i", "en")))
    val g = gate(a, b)
    assert(g("a_removed_pct") == ((40L, 0L)), "40% removed must fail")
    assert(g("b_token_shrink_ppm")._2 == 0L, "40% token shrink must fail")
    assert(g("e_promote") == ((0L, 0L)))
  }

  test("p7 rejects a language drop even when mass churn is acceptable") {
    val base = (1L to 9L).map(i => (i, s"gamma delta doc $i", "en")) :+
      ((10L, "bonjour le monde", "fr"))
    val a = docs(base)
    val b = docs(base.filterNot(_._3 == "fr"))
    val g = gate(a, b)
    assert(g("a_removed_pct") == ((10L, 1L)), "10% removal passes")
    assert(g("d_langs_dropped") == ((1L, 0L)), "the dropped language must fail")
    assert(g("e_promote")._1 == 0L)
  }

  test("p7 rejects re-concatenated shards on the dup check alone") {
    val a = docs((1L to 4L).map(i => (i, s"epsilon zeta doc $i", "en")))
    val b = docs((1L to 4L).map(i => (i, s"epsilon zeta doc $i", "en")) ++
      (11L to 14L).map(i => (i, s"epsilon zeta doc ${i - 10}", "en")))
    val g = gate(a, b)
    assert(g("c_dup_rate_ppm") == ((500000L, 0L)), "half the candidate is dup")
    assert(g("a_removed_pct") == ((0L, 1L)) && g("d_langs_dropped") == ((0L, 1L)))
    assert(g("e_promote")._1 == 0L)
  }
}

/** t34: the language-ID scorecard — every ppm metric recomputed
  * driver-side from t3's independently-oracled confusion grid. */
class LangidScorecardSpec extends SparkSpec {

  test("t34 precision/recall/F1 match a driver-side recompute of t3's grid") {
    val grid = TextAnalysis.t3LangId(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = TextAnalysis.t34LangidScorecard(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val trueLangs = grid.map(_._1).distinct.sorted
    assert(got.keySet == trueLangs.toSet, "one scorecard row per TRUE lang")
    trueLangs.foreach { l =>
      val support = grid.filter(_._1 == l).map(_._3).sum
      val predTot = grid.filter(_._2 == l).map(_._3).sum
      val tp = grid.filter(g => g._1 == l && g._2 == l).map(_._3).sum
      val (s0, p0, t0, prec, rec, f1) = got(l)
      assert((s0, p0, t0) == ((support, predTot, tp)), s"$l: grid masses")
      assert(prec == (if (predTot > 0) tp * 1000000L / predTot else 0L), s"$l: precision")
      assert(rec == tp * 1000000L / support, s"$l: recall")
      assert(f1 == 2 * tp * 1000000L / (support + predTot), s"$l: F1")
      assert(prec <= 1000000L && rec <= 1000000L && f1 <= 1000000L)
    }
  }
}

/** e14: the calendar gap-fill — dense-grid shape, conservation, and a
  * full driver-side recompute of the trailing-7-day sums. */
class GapfillSpec extends SparkSpec {

  test("e14 grid is dense, conserves mass, and trail7 recomputes") {
    val rows = Events.e14Gapfill(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val types = rows.map(_._2).distinct.sorted
    val days = rows.map(_._1).distinct.sorted
    assert(rows.length == types.length * days.length, "grid must be dense")
    // the calendar is contiguous: every day between min and max appears
    val d0 = java.time.LocalDate.parse(days.head)
    val d1 = java.time.LocalDate.parse(days.last)
    assert(days.length == java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
      "calendar span must have no holes")
    // conservation: grid counts sum to the corpus row count
    val total = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_._3).sum == total, "gap-fill must conserve events")
    // trail7 = sum of this and the previous 6 calendar cells, per type
    types.foreach { t =>
      val series = rows.filter(_._2 == t).sortBy(_._1)
      series.zipWithIndex.foreach { case ((_, _, _, tr), i) =>
        val want = series.slice(math.max(0, i - 6), i + 1).map(_._3).sum
        assert(tr == want, s"$t @ ${series(i)._1}: trail7 $tr != $want")
      }
    }
  }
}

/** t35: LM drift — zero on identical snapshots, localized on a planted
  * one-language drift, and the unseen-token sentinel recomputed. */
class LmDriftSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("t35's local oracle suffix equals Corpus.ChangedSuffix (init-cycle guard)") {
    assert(Quality.PairChangedSuffix == Corpus.ChangedSuffix,
      "the duplicated literal must track Corpus.ChangedSuffix")
    assert(!Quality.t35Sql.contains("'null'"),
      "the oracle SQL must never capture a null interpolation")
    assert(Quality.t35Sql.contains(Quality.PairChangedSuffix))
  }

  test("identical snapshots drift zero in every language") {
    val a = docs((1L to 20L).map(i => (i, s"alpha beta gamma doc $i", if (i % 2 == 0) "en" else "fr")))
    val got = Quality.lmDriftFrames(a, a).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "token masses equal")
      assert(r.getLong(5) == 0L, s"${r.getString(0)}: drift must be 0")
    }
  }

  test("planted rare-token spam drifts only its own language upward") {
    val base = (1L to 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog", if (i % 2 == 0) "en" else "fr"))
    val a = docs(base)
    // B: French docs re-crawled into rare-token noise; English unchanged
    val b = docs(base.map { case (i, t, l) =>
      if (l == "fr") (i, s"zzq$i xqv$i qqz$i wvx$i", l) else (i, t, l)
    })
    val got = Quality.lmDriftFrames(a, b).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(got("en") == 0L, "unchanged language must not drift")
    assert(got("fr") > 0L, "noise-injected language must drift upward")
  }

  test("unseen tokens cost the ctf=1 sentinel, recomputed driver-side") {
    // A: 8 tokens total ("a b c d" ×2); B: one doc of 2 unseen tokens
    val a = docs(Seq((1L, "a b c d", "en"), (2L, "a b c d", "en")))
    val b = docs(Seq((3L, "zz yy", "en")))
    val row = Quality.lmDriftFrames(a, b).collect().head
    val total = 8.0
    val sentinel = math.floor(math.log(total / 1.0) * 1e6).toLong
    assert(row.getLong(2) == 2L)
    assert(row.getLong(4) == sentinel, s"mean_b ${row.getLong(4)} != sentinel $sentinel")
    val costSeen = math.floor(math.log(total / 2.0) * 1e6).toLong
    assert(row.getLong(3) == costSeen, "A scores its uniform vocab at ln(total/ctf)")
    assert(row.getLong(5) == sentinel - costSeen)
  }
}

/** e15: growth accounting — the flow identities that make the ledger a
  * LEDGER, plus a full driver-side recompute. */
class GrowthAccountingSpec extends SparkSpec {

  test("e15 flows balance: active(w) = active(w-1) - churn(w) + new + resurrected") {
    val rows = Events.e15GrowthAccounting(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val byWk = rows.map(t => t._1 -> t).toMap
    rows.sliding(2).foreach {
      case Array((w0, _, _, _, _, act0), (w1, nw, ret, res, chn, act1)) if w1 == w0 + 1 =>
        // retained(w) + churned(w) = active(w-1): every w-1 user goes one way
        assert(ret + chn == act0, s"week $w1: retained+churned != active(w-1)")
        assert(act1 == nw + ret + res, s"week $w1: active identity")
      case _ => // non-adjacent weeks carry no cross-week identity here
    }
    // every user is NEW exactly once: total new == distinct users
    val users = graft.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == users, "sum of n_new must equal |users|")
  }

  test("e15 matches a driver-side recompute of the week sets") {
    val weekUs = Events.WeekUs
    val uw = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / weekUs)).distinct
    val byUser = uw.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).sorted }
    val maxWk = uw.map(_._2).max
    val weeks = uw.map(_._2).distinct.sorted
    val want = (weeks ++ weeks.map(_ + 1)).distinct.sorted.filter(_ <= maxWk).flatMap { w =>
      val nw = byUser.values.count(ws => ws.head == w)
      val ret = byUser.values.count(ws => ws.contains(w) && ws.contains(w - 1))
      val res = byUser.values.count(ws => ws.contains(w) && ws.head < w && !ws.contains(w - 1))
      val chn = byUser.values.count(ws => ws.contains(w - 1) && !ws.contains(w))
      val act = nw + ret + res
      if (nw + ret + res + chn == 0) None
      else Some((w, nw.toLong, ret.toLong, res.toLong, chn.toLong, act.toLong))
    }
    val got = Events.e15GrowthAccounting(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want.toSeq, "growth ledger mismatch vs driver recompute")
  }
}

/** s19: MaxSim — the aspect-matching property single-vector pooling
  * cannot express, plus a full driver-side recompute on the fixture. */
class MaxSimSpec extends SparkSpec {

  private def frame(rows: Seq[(Long, Int, Seq[Long])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "qv")
  }

  test("s19 ranks the aspect-covering document above the weak-everywhere one") {
    // query group 0: two orthogonal aspects a=(8,0), b=(0,8)
    val q = frame(Seq((0L, 0, Seq(8L, 0L)), (1L, 0, Seq(0L, 8L))))
      .select(col("label").as("qlabel"), col("vec_id").as("qvec"), col("qv").as("qq"))
    // doc 1 nails both aspects with separate vectors; doc 2's vectors
    // are all the weak diagonal (higher mean-pooled cosine than doc 1's
    // pooled mean would suggest, but MaxSim sees the aspect coverage)
    val e = frame(Seq(
      (10L, 1, Seq(8L, 0L)), (11L, 1, Seq(0L, 8L)),
      (20L, 2, Seq(3L, 3L)), (21L, 2, Seq(3L, 3L))))
    val got = Similarity.maxSimFrames(e, q, k = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc1: max dots 64 + 64 = 128; doc2: 24 + 24 = 48
    assert(got.toSeq == Seq((0, 1, 1, 128L), (0, 2, 2, 48L)))
  }

  test("s19 oracle fixture matches a driver-side recompute") {
    val rows = Similarity.s19MaxSim(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val e = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1024).toLong)))
    val q = e.filter(_._1 < 30)
    val want = q.groupBy(_._2).toSeq.flatMap { case (ql, qs) =>
      val scores = e.map(_._2).distinct.filter(_ != ql).map { dl =>
        val ds = e.filter(_._2 == dl)
        dl -> qs.map { qv =>
          ds.map(dv => qv._3.zip(dv._3).map { case (a, b) => a * b }.sum).max
        }.sum
      }.sortBy { case (dl, sc) => (-sc, dl) }.take(3)
      scores.zipWithIndex.map { case ((dl, sc), i) => (ql, i + 1, dl, sc) }
    }.sortBy(t => (t._1, t._2))
    assert(rows.toSeq == want, "MaxSim top-3 mismatch vs driver recompute")
  }
}

/** d26: URL canonicalization — each planted variant class collapses to
  * its bare form, real distinctions survive, and the summary recomputes. */
class UrlDedupSpec extends SparkSpec {

  private def canon(urls: Seq[String]): Seq[String] = {
    import spark.implicits._
    urls.toDF("u").select(Dedup.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
  }

  test("every variant class canonicalizes to the bare URL; distinctions survive") {
    val bare = "https://srcx.example.com/a/12"
    assert(canon(Seq(
      bare,
      bare + "/",
      "HTTPS://SRCX.EXAMPLE.COM:443/a/12",
      bare + "?utm_source=feed&utm_campaign=x",
      "https://srcx.example.com:80/a/12")).forall(_ == bare))
    // genuinely different URLs must NOT collapse
    assert(canon(Seq("https://srcx.example.com/a/13")).head != bare)
    assert(canon(Seq("http://srcx.example.com/a/12")).head != bare,
      "http and https are different resources")
    assert(canon(Seq("https://srcx.example.com/A/12")).head != bare,
      "paths stay case-sensitive")
    assert(canon(Seq("https://srcx.example.com/a/12?page=2")).head
      == bare + "?page=2", "real query params survive the utm strip")
    assert(canon(Seq("https://srcx.example.com:8080/a/12")).head
      == "https://srcx.example.com:8080/a/12", "non-default ports survive")
  }

  test("d26 summary matches a driver-side recompute of the planted frontier") {
    val row = Dedup.d26UrlDedup(spark, sfDir).collect().head
    val ids = graft.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0))
    val groups = ids.groupBy(_ / 4)
    val nUrls = ids.length.toLong
    val nCanon = groups.size.toLong
    val nDup = groups.values.count(_.length > 1).toLong
    val checksum = groups.values.map(_.min % Dedup.P).sum % Dedup.P
    assert(row.getLong(0) == nUrls && row.getLong(1) == nCanon)
    assert(row.getLong(2) == nDup && row.getLong(3) == nUrls - nCanon)
    assert(row.getLong(4) == checksum, "survivor checksum mismatch")
    assert(nDup > 0, "fixture must actually collapse variants")
  }
}
