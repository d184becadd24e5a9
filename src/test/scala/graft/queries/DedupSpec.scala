package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextHash

/** Near-dup pipeline invariants on a corpus with planted duplicates.
  * The registered queries are oracle-checked end-to-end by the driver;
  * these tests pin the algebra that the oracle can't see: the inverted-
  * index co-occurrence Jaccard equals the set-formula Jaccard, and LSH
  * candidate generation never loses a pair that shares a full band.
  */
class DedupSpec extends AnyFunSuite {

  private val corpus = Seq(
    1 -> "the quick brown fox jumps over the lazy dog",
    2 -> "the quick brown fox jumps over the lazy cat",   // near-dup of 1
    3 -> "the quick brown fox jumps over the lazy dog",   // exact dup of 1
    4 -> "spark catalyst optimizer rewrites logical plans",
    5 -> "completely different text with no shared shingles at all",
    6 -> "short text")

  private def jaccardSet(a: String, b: String): Double = {
    val (sa, sb) = (TextHash.shingleSet(a).toSet, TextHash.shingleSet(b).toSet)
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private def jaccardCounts(a: String, b: String): Double = {
    val (sa, sb) = (TextHash.shingleSet(a).toSet, TextHash.shingleSet(b).toSet)
    val common = sa.intersect(sb).size
    common.toDouble / (sa.size + sb.size - common)
  }

  test("co-occurrence-count Jaccard == set-formula Jaccard on every pair") {
    for ((i, a) <- corpus; (j, b) <- corpus if i < j) {
      assert(jaccardCounts(a, b) == jaccardSet(a, b), s"pair ($i,$j)")
    }
  }

  test("exact dup pair has Jaccard 1; near-dup is high; disjoint is 0") {
    assert(jaccardSet(corpus(0)._2, corpus(2)._2) == 1.0)
    assert(jaccardSet(corpus(0)._2, corpus(1)._2) > 0.7)
    assert(jaccardSet(corpus(0)._2, corpus(4)._2) == 0.0)
  }

  test("MinHash signature equality is implied by shingle-set equality") {
    def sig(text: String): Seq[Long] = {
      val hs = TextHash.shingleSet(text).map(TextHash.tokenHash)
      Dedup.MinHashAB.map { case (a, b) => hs.map(h => (a * h + b) % TextHash.P).min }
    }
    assert(sig(corpus(0)._2) == sig(corpus(2)._2)) // exact dups: all bands match
    val near = sig(corpus(0)._2).zip(sig(corpus(1)._2)).count { case (x, y) => x == y }
    val far  = sig(corpus(0)._2).zip(sig(corpus(4)._2)).count { case (x, y) => x == y }
    assert(near > far) // signature agreement tracks similarity
  }

  test("registered dedup_exact finds the simulated re-ingest duplicates on sf0.001") {
    val out = Registry.queries("dedup_exact")(TestSpark.spark, TestSpark.Sf0001).collect()
    // corpus() re-arrives every 10th doc under id+100000 -> each such pair
    // must be reported with the original as canonical
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    assert(out.forall(r => r.getLong(1) < r.getLong(0))) // canonical = min id < dup
  }

  test("dedup_minhash_lsh output pairs all meet the 0.5 Jaccard threshold") {
    val out = Registry.queries("dedup_minhash_lsh")(TestSpark.spark, TestSpark.Sf0001)
      .collect()
    assert(out.forall(_.getDouble(2) >= 0.5))
    assert(out.forall(r => r.getLong(0) < r.getLong(1))) // canonical pair order
  }

  test("SimHash banded blocking == all-pairs at Hamming <= 6 (pigeonhole)") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    val docs = graft.Tables.documents(s, TestSpark.Sf0001)
      .select(col("doc_id"), col("source"), expr("simhash32(text)").as("sh"))
    val brute = docs.select(col("doc_id").as("i"), col("source"), col("sh").as("sh_a"))
      .join(docs.select(col("doc_id").as("j"), col("source"), col("sh").as("sh_b")),
        Seq("source"))
      .filter(col("i") < col("j"))
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter(col("hamming") <= 6)
      .select("i", "j", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Dedup.simhashPairs(s, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty)
  }

  test("df-cap cuts boilerplate-only overlap without pairing on it") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    import s.implicits._
    // 12 docs share one boilerplate shingle and carry one unique each:
    // with dfCap 10 the hot shingle is cut, every doc keeps its unique
    // shingle (no rescue), and NO pair shares an uncapped shingle
    val docs = (1 to 12)
      .map(i => (i.toLong, "srcA", Seq("boilerplate header line", s"unique $i")))
      .toDF("doc_id", "source", "shs")
    assert(Dedup.jaccardPairs(docs, 10, 0.1).collect().isEmpty)
  }

  test("mass-duplicated docs (all shingles hot) are rescued, not silently dropped") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    import s.implicits._
    // 12 identical docs: every shingle has df 12 > cap 10 — the cut
    // alone would erase them from the index (the recall cliff); the
    // rescue keeps their full posting sets and reports the full clique
    val docs = (1 to 12)
      .map(i => (i.toLong, "srcA", Seq("dup shingle one", "dup shingle two")))
      .toDF("doc_id", "source", "shs")
    val pairs = Dedup.jaccardPairs(docs, 10, 0.5).collect()
    assert(pairs.length == 12 * 11 / 2)
    assert(pairs.forall(_.getDouble(2) == 1.0))
  }

  test("salted bucket expansion emits exactly the unsalted pair set, bounded per block") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    import s.implicits._
    val n = 40
    val bands = (1 to n).map(i => (i.toLong, 0, "k")).toDF("doc_id", "band", "key")
    val saltCap = 7
    val salted = Dedup.bucketPairs(bands, saltCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = Dedup.bucketPairs(bands, 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for (i <- 1 to n; j <- i + 1 to n) yield (i.toLong, j.toLong)).toSet
    assert(unsalted == expected)
    assert(salted == expected)
    // the bound the salting buys: no block side ever collects more than
    // one salt group (~bucket/G docs; 2*saltCap is the designed ceiling)
    val maxSide = Dedup.saltedBlocks(bands, saltCap)
      .groupBy("band", "key", "blk_a", "blk_b", "side").count()
      .agg(max("count")).head().getLong(0)
    assert(maxSide <= 2L * saltCap, s"block side grew to $maxSide")
  }

  test("incremental dedup equals the full run restricted to new-batch pairs") {
    def pairs(name: String) =
      Registry.queries(name)(TestSpark.spark, TestSpark.Sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs("dedup_minhash_lsh")
      .filter { case (i, j) => i % 5 == 0 || j % 5 == 0 }
    assert(pairs("dedup_incremental_minhash") == full)
  }

  test("survivor selection keeps exactly one canonical (the min id) per cluster") {
    val out = Registry.queries("dedup_survivors")(TestSpark.spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (cluster, docs) =>
      assert(docs.count(_._3) == 1, s"cluster $cluster keeper count")
      assert(docs.filter(_._3).head._1 == cluster)
      assert(docs.map(_._1).min == cluster)
    }
  }

  test("salted expansion equals all-pairs across bucket sizes and caps (incl. cap=1, cap>n)") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    import s.implicits._
    // two buckets of different sizes plus a singleton (must emit nothing)
    for ((n1, n2, cap) <- Seq((5, 13, 1), (12, 30, 4), (9, 3, 100))) {
      val bands = ((1 to n1).map(i => (i.toLong, 0, "p")) ++
        (101 to (100 + n2)).map(i => (i.toLong, 1, "q")) :+ (999L, 2, "single"))
        .toDF("doc_id", "band", "key")
      val got = Dedup.bucketPairs(bands, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected =
        (for (i <- 1 to n1; j <- i + 1 to n1) yield (i.toLong, j.toLong)).toSet ++
        (for (i <- 101 to (100 + n2); j <- i + 1 to (100 + n2))
          yield (i.toLong, j.toLong)).toSet
      assert(got == expected, s"n1=$n1 n2=$n2 cap=$cap")
    }
  }

  test("minhash verification is hint-free: zero broadcast joins once the threshold is disabled") {
    // The dup-heavy-corpus discipline: on a corpus where verified-
    // candidate volume is corpus-scale, a forced broadcast(cand) /
    // broadcast(sig) would OOM the driver. Hint-freeness is exactly
    // "the engine's threshold decides": with autoBroadcastJoinThreshold
    // disabled the executed plan must contain NO broadcast join of any
    // kind — a leftover hint would override the threshold and fail this
    // — and the pair set must match the default-config run.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val s = TestSpark.spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffled =
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val (verified, post) = Dedup.minhashVerifiedLazy(s, TestSpark.Sf0001, identity)
        val rows = verified.collect()
        def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
          case q: QueryStageExec => q +: flatten(q.plan)
          case other => other +: other.children.flatMap(flatten)
        }
        val nodes = flatten(verified.queryExecution.executedPlan)
        val bcasts = nodes.collect {
          case b: BroadcastHashJoinExec => b
          case b: BroadcastNestedLoopJoinExec => b
        }
        assert(bcasts.isEmpty,
          s"forced broadcast survives a disabled threshold:\n${bcasts.map(_.nodeName)}")
        post.unpersist(true)
        rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val default = Registry.queries("dedup_minhash_lsh")(s, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shuffled == default, "join strategy changed the verified pair set")
  }

  test("containment catches a subset-dup that symmetric Jaccard misses") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions._
    import s.implicits._
    // a short doc embedded verbatim as the prefix of a much longer one:
    // every short shingle is in the long set, but the union is dominated
    // by the long side — containment 1.0, Jaccard well under 0.5
    val words = (1 to 40).map(i => s"tok$i")
    val long = words.mkString(" ")
    val short = words.take(10).mkString(" ")
    val docs = Seq(1L -> short, 2L -> long).toDF("doc_id", "text")
      .select(col("doc_id"), expr("shingle_set(text)").as("shs"))
    val got = Dedup.containmentPairs(docs, Dedup.DfCap, 0.8).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 1.0, s"containment should be exactly 1, got ${r.getDouble(2)}")
    assert(r.getDouble(3) < 0.5, s"Jaccard must miss this pair (got ${r.getDouble(3)})")
    // and the symmetric operator at its registered threshold indeed
    // misses it — the reason containment exists as its own operator
    val jacGot = Dedup.jaccardPairs(
      Seq(1L -> short, 2L -> long).toDF("doc_id", "text")
        .select(col("doc_id"), lit("src").as("source"),
          expr("shingle_set(text)").as("shs")), Dedup.DfCap, 0.5)
    assert(jacGot.count() == 0)
  }

  test("bucketed embedding near-dup output is a subset of the exact all-pairs baseline") {
    val s = TestSpark.spark
    def pairsOf(name: String) =
      Registry.queries(name)(s, TestSpark.Sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = pairsOf("dedup_embedding_cosine")
    val exact = pairsOf("dedup_embedding_cosine_exact")
    assert(bucketed.nonEmpty)
    assert(bucketed.subsetOf(exact),
      s"bucketed emitted ${(bucketed -- exact).size} pairs the exact kernel rejects")
  }

  test("semantic dedup: verdicts partition the corpus, every eviction " +
    "pair exists in the exact-cosine baseline (same cos), and cell " +
    "recall clears the measured floor") {
    val sem = Registry.queries("dedup_semantic_kmeans")(
      TestSpark.spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    val exact = Registry.queries("dedup_embedding_cosine_exact")(
      TestSpark.spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // one verdict per vector, kept <=> no evicting partner
    assert(sem.map(_._1).distinct.length == sem.length)
    sem.foreach { case (id, kept, dupOf, dupCos) =>
      assert(kept == dupOf.isEmpty, s"vec $id verdict inconsistent")
      assert(dupOf.isEmpty == dupCos.isEmpty, s"vec $id partner/cos split")
      dupOf.foreach { p =>
        assert(p < id, s"vec $id evicted by a HIGHER id $p")
        // the documented SemDeDup trade: a drop is exact WITHIN a cell,
        // so every eviction pair must exist in the all-pairs baseline
        assert(exact.get((p, id)).contains(dupCos.get),
          s"eviction pair ($p, $id) not in the exact baseline")
      }
    }
    val dropped = sem.count(!_._2)
    assert(dropped > 0, "no duplicates found -- vacuous fixture")
    // recall vs the exact baseline's droppable set (vectors with ANY
    // lower-id partner at cos >= 0.4): bounded by the quantizer's cell
    // boundaries; measured 29/62 on this fixture, floored with slack
    val droppable = exact.keySet.map(_._2).size
    assert(dropped <= droppable, "dropped a vector the baseline would keep")
    assert(dropped.toDouble / droppable >= 0.35,
      s"cell recall collapsed: $dropped/$droppable")
  }
}
