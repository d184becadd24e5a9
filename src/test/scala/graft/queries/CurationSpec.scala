package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.TextHash

/** Invariants of the curation operators that the row-level oracle
  * can't express: exact stratum fractions, determinism across runs,
  * shard partitioning, budget maximality, and true contamination of
  * every flagged document.
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stratified sample takes exactly ceil(10%) of every language stratum") {
    val sample = Registry.queries("curation_stratified_sample")(spark, TestSpark.Sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, TestSpark.Sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sample.nonEmpty)
    sample.foreach { case (lang, n) =>
      assert(n == math.ceil(full(lang) * 0.1).toLong, s"stratum $lang")
    }
  }

  test("sample and shuffle are deterministic across runs") {
    def run(name: String) =
      Registry.queries(name)(spark, TestSpark.Sf0001).collect().toSeq
    assert(run("curation_stratified_sample") == run("curation_stratified_sample"))
    assert(run("curation_reproducible_shuffle") == run("curation_reproducible_shuffle"))
  }

  test("shuffle shards partition the corpus") {
    val out = Registry.queries("curation_reproducible_shuffle")(spark, TestSpark.Sf0001)
      .collect()
    val total = Tables.documents(spark, TestSpark.Sf0001).count()
    assert(out.length == total) // every doc exactly once
    assert(out.map(_.getLong(0)).distinct.length == total)
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) < Curation.Shards))
  }

  test("token packing respects the per-shard budget and is a maximal hash-order prefix") {
    val out = Registry.queries("curation_token_budget_pack")(spark, TestSpark.Sf0001)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getLong(3) <= 3000))
    // maximality: within each shard the packed set is a PREFIX of the
    // hash order — the first excluded doc would push the sum past budget
    val all = Tables.documents(spark, TestSpark.Sf0001)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("hkey", expr(
        s"tok_hash(concat('${Curation.Salt}', cast(doc_id as string)))"))
      .withColumn("shard", pmod(col("hkey"), lit(Curation.Shards.toLong)))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("hkey"), r.getAs[Long]("shard")))
    val packed = out.map(_.getLong(0)).toSet
    all.groupBy(_._4).foreach { case (shard, docs) =>
      var cum = 0L
      var cut = false
      docs.sortBy(d => (d._3, d._1)).foreach { case (id, n, _, _) =>
        cum += n
        if (cum <= 3000 && !cut) assert(packed.contains(id), s"shard $shard doc $id")
        else { cut = true; assert(!packed.contains(id), s"shard $shard doc $id") }
      }
    }
  }

  test("e2e pipeline output is clean: no held-out source, no duplicate text, quotas hold") {
    val out = Registry.queries("curation_e2e_pipeline")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.nonEmpty)
    assert(!out.exists(_._2 == "src3"), "held-out docs leaked into the training set")
    val ids = out.map(_._1)
    assert(ids.distinct.length == ids.length)
    // selected docs carry distinct texts (survivor stage upheld)
    val texts = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val outTexts = ids.map(texts)
    assert(outTexts.distinct.length == outTexts.length, "duplicate text selected")
    val weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2)
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= math.ceil(weights(src) * 200).toLong, s"quota busted for $src")
    }
  }

  test("seq pack tiles each shard's token stream with no gap and no overlap") {
    val out = Registry.queries("curation_seq_pack")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (shard, docs) =>
      // rows arrive ordered by (bin, off); reconstruct the stream
      var expectedStart = 0L
      docs.foreach { case (id, _, nTok, bin, off, nBins) =>
        assert(bin == expectedStart / 2048, s"shard $shard doc $id bin")
        assert(off == expectedStart % 2048, s"shard $shard doc $id off")
        assert(nBins == (expectedStart + nTok - 1) / 2048 - expectedStart / 2048 + 1,
          s"shard $shard doc $id span")
        expectedStart += nTok
      }
    }
  }

  test("paragraph dedup: a re-ingested doc loses every chunk to its original") {
    val out = Registry.queries("curation_paragraph_dedup")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val reingested = out.filter(_._1 >= 100000)
    assert(reingested.nonEmpty)
    reingested.foreach { case (id, nChunks, nDropped) =>
      assert(nDropped == nChunks, s"re-ingested doc $id must own no chunk")
    }
    // chunk counts are ceil(tokens/16) per doc — spot-check the total
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expectTotal = docs.map { case (_, t) =>
      math.max(math.ceil(t.split(" ", -1).length / 16.0).toLong, 1L)
    }.sum + docs.filter(_._1 % 10 == 0).map { case (_, t) =>
      math.max(math.ceil(t.split(" ", -1).length / 16.0).toLong, 1L)
    }.sum
    assert(out.map(_._2).sum == expectTotal)
  }

  test("pii redact finds exactly the planted identifiers and scrubs them") {
    val out = Registry.queries("curation_pii_redact")(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)
    out.foreach { case (id, nEmails, nPhones, red) =>
      assert(nEmails == (if (id % 7 == 0) 1L else 0L), s"doc $id emails")
      assert(nPhones == (if (id % 11 == 0) 1L else 0L), s"doc $id phones")
      assert(!red.contains("@"), s"doc $id leaked an email")
      assert(!red.contains("555-"), s"doc $id leaked a phone")
      if (id % 7 == 0) assert(red.contains("<EMAIL>"))
      if (id % 11 == 0) assert(red.contains("<PHONE>"))
    }
  }

  test("domain mix fills each source quota exactly (or exhausts a short source)") {
    val weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)
    val got = Registry.queries("curation_domain_mix")(spark, TestSpark.Sf0001)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.documents(spark, TestSpark.Sf0001)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == weights.keySet.filter(k => full.getOrElse(k, 0L) > 0))
    got.foreach { case (src, n) =>
      val quota = math.ceil(weights(src) * 200).toLong
      assert(n == math.min(quota, full(src)), s"source $src")
    }
  }

  test("bloom decontam has no false negatives against the exact shingle overlap") {
    val flagged = Registry.queries("curation_bloom_decontam")(spark, TestSpark.Sf0001)
      .collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val heldShs = docs.filter(_._2 == "src3")
      .flatMap(d => TextHash.shingleSet(d._3)).toSet
    val trulyOverlapping = docs.filter(_._2 != "src3").collect {
      case (id, _, t) if (TextHash.shingleSet(t).toSet intersect heldShs).nonEmpty => id
    }.toSet
    assert(trulyOverlapping.nonEmpty)
    assert(trulyOverlapping.subsetOf(flagged),
      s"bloom missed ${trulyOverlapping diff flagged}")
  }

  test("every flagged train doc truly shares >= 2 uncapped shingles with a held-out doc") {
    val flagged = Registry.queries("curation_decontam_overlap")(spark, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val testShs = docs.filter(_._2 == "src3")
      .map { case (id, _, t) => id -> TextHash.shingleSet(t).toSet }
    val dfCount = testShs.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val uncapped = testShs.map { case (id, s) =>
      id -> s.filter(sh => dfCount(sh) <= Dedup.DfCap)
    }
    val brute = docs.filter(_._2 != "src3").flatMap { case (id, _, t) =>
      val shs = TextHash.shingleSet(t).toSet
      val hits = uncapped.map { case (_, ts) => (shs intersect ts).size }
        .filter(_ >= 2)
      if (hits.isEmpty) None else Some(id -> hits.max.toLong)
    }.toMap
    assert(flagged == brute,
      s"flagged=${flagged.size} brute=${brute.size} diff=${(flagged.keySet diff brute.keySet) ++ (brute.keySet diff flagged.keySet)}")
  }
  test("chunk_overlap covers every token: stride grid, overlap, exact tail") {
    import org.apache.spark.sql.functions._
    val chunks = Registry.queries("curation_chunk_overlap")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunks.keySet == docs.keySet, "every document must chunk")
    chunks.foreach { case (doc, cs) =>
      val n = docs(doc)
      val sorted = cs.sortBy(_._2)
      // chunk_idx is the dense stride grid 0..ceil(n/40)-1
      assert(sorted.map(_._2).toSeq == (0L until ((n + 39) / 40)).toSeq,
        s"doc $doc: chunk grid broken")
      sorted.foreach { case (_, idx, len) =>
        val start = idx * 40
        assert(len == math.min(n - start, 50L),
          s"doc $doc chunk $idx: len $len != min(${n - start}, 50)")
      }
      // coverage: last chunk reaches the last token; consecutive chunks
      // overlap by 10 tokens whenever the doc is long enough
      val (_, lastIdx, lastLen) = sorted.last
      assert(lastIdx * 40 + lastLen == n, s"doc $doc: tail token uncovered")
      sorted.sliding(2).foreach {
        case Array((_, i1, l1), (_, i2, _)) =>
          val overlap = (i1 * 40 + l1) - i2 * 40
          assert(overlap == l1 - 40 && overlap > 0 && overlap <= 10,
            s"doc $doc: chunks $i1/$i2 overlap $overlap (len $l1)")
        case _ => ()
      }
    }
  }

  test("weighted sample acceptance tracks the total weight mass") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, TestSpark.Sf001)
    val n = docs.count().toDouble
    val expected = docs
      .withColumn("w",
        least(lit(900L), greatest(lit(100L), expr("n_chars div 4"))))
      .agg(sum(col("w"))).head().getLong(0).toDouble / 1000.0
    val kept = Registry.queries("curation_weighted_sample")(
      spark, TestSpark.Sf001).count().toDouble
    // Bernoulli with per-doc p: sd <= sqrt(n)/2; allow 4 sigma
    val sd = math.sqrt(n) / 2
    assert(math.abs(kept - expected) <= 4 * sd,
      s"kept $kept, expected ~$expected (n=$n, 4sd=${4 * sd})")
  }

  test("leakage-safe split covers every doc and never splits a cluster") {
    val out = Registry.queries("curation_leakage_safe_split")(
      spark, TestSpark.Sf0001).collect()
    val total = Tables.documents(spark, TestSpark.Sf0001).count()
    assert(out.length == total) // a partition of the corpus
    assert(out.map(_.getLong(0)).distinct.length == total)
    // one split label per cluster — the defining property
    out.groupBy(_.getLong(1)).foreach { case (cl, rows) =>
      assert(rows.map(_.getString(2)).distinct.length == 1,
        s"cluster $cl straddles splits")
    }
    // and concretely: every verified near-dup pair lands on one side
    val splitOf = out.map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = Dedup.minhashVerifiedPairs(spark, TestSpark.Sf0001)
      .select("i", "j").collect()
    pairs.foreach { p =>
      assert(splitOf(p.getLong(0)) == splitOf(p.getLong(1)),
        s"pair ${p.getLong(0)}/${p.getLong(1)} split across sides")
    }
    // the split is usable: train holds the bulk of the corpus
    assert(out.count(_.getString(2) == "train") > out.length / 2)
  }

  test("epoch upsample emits exactly the deterministic whole+fractional " +
    "copy set with (id, epoch)-salted shards") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h60(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).substring(0, 15), 16)
    val factors = Map("src0" -> ((1L, 0L)), "src1" -> ((2L, 500L)),
      "src2" -> ((2L, 0L)), "src3" -> ((3L, 250L)))
    // sources without a declared factor (sf0.001 carries a src4) are
    // excluded by the query's inner join — mirror that here
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter(d => factors.contains(d._2))
    val expected = docs.flatMap { case (id, src) =>
      val (whole, frac) = factors(src)
      val reps = whole + (if (h60(s"epoch_$id") % 1000 < frac) 1L else 0L)
      (0L until reps).map(ep => (id, src, ep, (h60(s"eposh_$id") + ep) % 8))
    }
    val rows = Registry.queries("curation_epoch_upsample")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == expected.length) // multiset equality: no extra copies
    assert(rows.toSet == expected.toSet)
    // the epoch rotation guarantees copies of one doc land on DISTINCT
    // shards (reps <= 4 < Shards)
    rows.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._4).distinct.length == cs.length,
        s"doc $id copies co-locate")
    }
    // integer-epoch sources are repeated EXACTLY their factor — the
    // fractional draw must not leak into them
    val bySrc = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val docCount = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(bySrc("src0") == docCount("src0"))
    assert(bySrc("src2") == 2L * docCount("src2"))
  }

  test("reservoir sample is exactly the k smallest salted draws and " +
    "merges: sampling the halves then merging equals sampling the whole") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h60(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).substring(0, 15), 16)
    val ids = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id").collect().map(_.getLong(0))
    val drawn = ids.map(id => (h60(s"rsv_$id"), id)).sorted
    val expected = drawn.take(100).zipWithIndex
      .map { case ((draw, id), i) => (id, draw, (i + 1).toLong) }
    val rows = Registry.queries("curation_reservoir_sample")(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("draw"),
        r.getAs[Long]("sample_rank")))
      .sortBy(_._3)
    assert(rows.toSeq == expected.toSeq)
    // merge law: the k smallest of the union = k smallest of the two
    // halves' k-smallest sets — the property that makes the sample
    // computable per-partition / per-day and folded later
    val (a, b) = drawn.partition(_._2 % 2 == 0)
    val merged = (a.take(100) ++ b.take(100)).sorted.take(100)
    assert(merged.toSeq == drawn.take(100).toSeq)
  }

  test("quota sample: exactly min(k, |source|) docs per source, each " +
    "stratum the k smallest draws of ITS OWN population, merge law per " +
    "stratum") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def h60(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).substring(0, 15), 16)
    val k = 20
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bySource = docs.groupBy(_._2).map { case (src, rs) =>
      src -> rs.map { case (id, _) => (h60(s"strat_$id"), id) }.sorted
    }
    val rows = Registry.queries("curation_quota_sample")(
      spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("draw"), r.getAs[Long]("sample_rank")))
    // per-stratum replica equality: each source's sample is exactly its
    // own k smallest draws, ranked in (draw, doc_id) order
    bySource.foreach { case (src, drawn) =>
      val expected = drawn.take(k).zipWithIndex
        .map { case ((draw, id), i) => (src, id, draw, (i + 1).toLong) }
      val got = rows.filter(_._1 == src).sortBy(_._4)
      assert(got.toSeq == expected.toSeq, s"stratum $src diverged")
      assert(got.length == math.min(k, drawn.length))
    }
    assert(rows.map(_._1).distinct.sorted.toSeq ==
      bySource.keys.toSeq.sorted, "a source is missing from the sample")
    // merge law per stratum: k smallest of a stratum's union = k
    // smallest of the halves' k-smallest sets — per-partition/per-day
    // folds compose within each source exactly like the global reservoir
    bySource.foreach { case (src, drawn) =>
      val (a, b) = drawn.partition(_._2 % 2 == 0)
      val merged = (a.take(k) ++ b.take(k)).sorted.take(k)
      assert(merged.toSeq == drawn.take(k).toSeq, s"merge law broke on $src")
    }
  }

  test("crossval folds: every doc in exactly one of 5 populated folds, " +
    "and no verified near-dup pair straddles a fold boundary") {
    val rows = Registry.queries("curation_crossval_folds")(
      spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fold")))
    val total = Tables.documents(spark, TestSpark.Sf0001).count()
    assert(rows.length.toLong == total)
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.map(_._2).distinct.sorted.toSeq == (0L to 4L),
      "not all 5 folds populated")
    val foldOf = rows.toMap
    Dedup.minhashVerifiedPairs(spark, TestSpark.Sf0001)
      .select("i", "j").collect().foreach { p =>
      assert(foldOf(p.getLong(0)) == foldOf(p.getLong(1)),
        s"pair ${p.getLong(0)}/${p.getLong(1)} straddles folds")
    }
  }

  test("13-gram decontamination spans match an in-memory replica built " +
    "from raw gram strings (no hashing on the replica side)") {
    val K = 13
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(text: String): Seq[(Int, String)] = {
      val t = text.split(" ", -1)
      if (t.length < K) Seq.empty
      else (0 to t.length - K).map(i => i -> t.slice(i, i + K).mkString(" "))
    }
    val testGrams = docs.filter(_._2 == "src3")
      .flatMap(d => grams(d._3).map(_._2)).toSet
    assert(testGrams.nonEmpty)
    val expected = docs.filter(_._2 != "src3").flatMap { case (id, _, text) =>
      val hits = grams(text).collect {
        case (i, g) if testGrams.contains(g) => i
      }.sorted
      if (hits.isEmpty) Seq.empty
      else {
        // stitch: starts within K tokens merge into one span
        val spans = hits.tail.foldLeft(List((hits.head, hits.head))) {
          case ((st, last) :: rest, i) =>
            if (i - last <= K) (st, i) :: rest else (i, i) :: (st, last) :: rest
          case (Nil, i) => List((i, i))
        }.reverse
        val nTokens = text.split(" ", -1).length.toLong
        val contam = spans.map { case (st, en) => en + K - 1 - st + 1 }.sum.toLong
        spans.map { case (st, en) =>
          (id, st.toLong, (en + K - 1).toLong, contam, nTokens)
        }
      }
    }.sortBy(x => (x._1, x._2))
    val rows = Registry.queries("curation_ngram_decontam_spans")(
      spark, TestSpark.Sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("contam_tokens"),
        r.getAs[Long]("n_tokens")))
      .sortBy(x => (x._1, x._2))
    assert(rows.nonEmpty)
    assert(rows.toSeq == expected.toSeq)
  }

}
