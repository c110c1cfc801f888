package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-duplicate truth tables for the dedup operators. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  // near-dup of base: one word changed
  private val near =
    "the quick brown fox jumps over the lazy cat and runs far away home tonight"
  private val other =
    "completely different content about spark shuffles joins and aggregates"

  private lazy val docs = Seq(
    (0L, base, "s1"),
    (1L, base, "s1"),     // exact dup of 0
    (2L, near, "s1"),     // near dup of 0
    (3L, other, "s1"),
    (4L, other, "s2")     // exact dup of 3, different source
  ).toDF("doc_id", "text", "source")

  test("exactDuplicates groups identical texts and keeps min doc_id") {
    val groups = Dedup.exactDuplicates(docs).collect()
    assert(groups.length == 3) // base, near, other
    val dupGroup = groups.filter(_.getAs[Long]("n_docs") == 2L)
    assert(dupGroup.map(_.getAs[Long]("keeper")).toSet == Set(0L, 3L))
  }

  test("ngramJaccardPairs finds the near-dup with high jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(exact.exists(_._3 == 1.0), s"exact dup pair missing: $pairs")
    val nearPair = pairs.find(p => p._1 == 0L && p._2 == 2L)
    assert(nearPair.exists(_._3 > 0.5), s"near dup pair weak/missing: $pairs")
    // corpus-wide: the cross-source exact-dup pair (3,4) must appear
    assert(pairs.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 1.0))
    // unrelated docs never reach the threshold
    assert(!pairs.exists(p => p._1 == 2L && p._2 == 3L))
  }

  test("prefix-filtered join matches the brute-force quadratic join") {
    val docsReal = graft.Tables.documents(spark, sfDir)
    val fast = Dedup.ngramJaccardPairs(docsReal, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: all pairs, exact jaccard over the same hashed shingles
    val grams = docsReal.select($"doc_id",
      TextAnalysis.hashedNgrams($"text", 3).as("grams"))
      .filter(size($"grams") > 0)
    val brute = grams.as("a").join(grams.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(TextAnalysis.jaccard(col("a.grams"), col("b.grams")), 6).as("j"))
      .filter($"j" >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute, s"prefix filter lost/invented pairs: " +
      s"missing=${brute -- fast} extra=${fast -- brute}")
  }

  test("minHashCandidatePairs surfaces exact and near dups") {
    val cands = Dedup.minHashCandidatePairs(docs, minEstJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cands.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(cands.exists(p => p._1 == 0L && p._2 == 2L && p._3 > 0.3))
    assert(cands.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 1.0))
    // unrelated docs never pair
    assert(!cands.exists(p => p._1 == 2L && p._2 == 3L))
  }

  test("simHash: identical texts distance 0, near dups close, others far") {
    val sh = docs.select($"doc_id", Dedup.simHashSig($"text").as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    def ham(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 != p._2)
    assert(sh(0L) == sh(1L))
    assert(ham(sh(0L), sh(2L)) <= 12, s"near-dup hamming ${ham(sh(0L), sh(2L))}")
    assert(ham(sh(0L), sh(3L)) > 12, s"far hamming ${ham(sh(0L), sh(3L))}")
    assert(sh(0L).length == 64 && sh(0L).forall(b => b == 0L || b == 1L))
  }

  test("simHashCandidatePairs finds identical pair with hamming 0") {
    val cands = Dedup.simHashCandidatePairs(docs, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(cands.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    assert(cands.exists(p => p._1 == 3L && p._2 == 4L && p._3 == 0))
  }

  test("native minhash/simhash signature kernels match the HOF reference") {
    val docsReal = graft.Tables.documents(spark, sfDir).limit(100)
    val cmp = docsReal.select(
      Dedup.minHashSignature(
        TextAnalysis.hashedNgrams($"text", 3), 64).as("nat_mh"),
      Dedup.minHashSignatureHof(
        TextAnalysis.hashedNgrams($"text", 3), 64).as("hof_mh"),
      Dedup.simHashSig($"text").as("nat_sh"),
      Dedup.simHashSigHof($"text").as("hof_sh"))
      .collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "minhash sig drift")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "simhash sig drift")
    }
    // hamming kernel parity on real signature pairs
    val sigs = docsReal.select(Dedup.simHashSig($"text").as("sig")).limit(50)
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .select(Dedup.hamming(col("a.sig"), col("b.sig")).as("nat"),
        Dedup.hammingHof(col("a.sig"), col("b.sig")).as("hof"))
      .collect()
    pairs.foreach(r => assert(r.getInt(0) == r.getInt(1), "hamming drift"))
  }

  test("minhash candidates on real corpus are verified by exact jaccard") {
    val docsReal = graft.Tables.documents(spark, sfDir)
    val cands = Dedup.minHashCandidatePairs(docsReal, minEstJaccard = 0.8)
    val grams = docsReal.select($"doc_id",
      TextAnalysis.ngrams($"text", 3).as("grams"))
    val verified = cands
      .join(grams.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("grams", "ga"), Seq("doc_a"))
      .join(grams.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("grams", "gb"), Seq("doc_b"))
      .select(TextAnalysis.jaccard($"ga", $"gb").as("j"))
      .collect().map(_.getDouble(0))
    // high-estimate candidates must be genuinely similar (LSH not lying)
    verified.foreach(j => assert(j > 0.5, s"false positive with jaccard $j"))
  }

  test("canonicalCorpus drops exactly the non-canonical cluster members") {
    val corpus = graft.Tables.documents(spark, sfDir)
    val clusters = Dedup.duplicateClusters(corpus).collect()
    val nonKeepers = clusters.filter(_.getAs[Int]("keep") == 0)
      .map(_.getAs[Long]("doc_id")).toSet
    val kept = Dedup.canonicalCorpus(corpus)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val all = corpus.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- nonKeepers)
    assert(nonKeepers.nonEmpty, "spec corpus has no near-dups to drop")
  }

  test("contaminatedIds: planted verbatim overlap is flagged, fresh text is not") {
    val data = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", true),   // holdout
      (1L, "prefix words then alpha beta gamma delta end", false), // 4-gram hit
      (2L, "alpha beta gamma nothing shared here at all", false),  // only 3-gram
      (3L, "totally fresh content with no overlap present", false)
    ).toDF("doc_id", "text", "hold")
    val got = Dedup.contaminatedIds(data, $"hold", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), s"got $got")
  }

  test("contaminatedIdsBloom: Bloom prune + verify equals the exact semi-join") {
    val data = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", true),
      (1L, "prefix words then alpha beta gamma delta end", false),
      (2L, "alpha beta gamma nothing shared here at all", false),
      (3L, "totally fresh content with no overlap present", false)
    ).toDF("doc_id", "text", "hold")
    val got = Dedup.contaminatedIdsBloom(data, $"hold", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L), s"got $got")
  }

  test("contaminatedIdsBloom equals contaminatedIds on the corpus") {
    val docs = graft.Tables.documents(spark, sfDir)
    val exact = Dedup.contaminatedIds(docs, $"doc_id" % 31 === 0, n = 4)
      .collect().map(_.getLong(0)).toSet
    val bloom = Dedup.contaminatedIdsBloom(docs, $"doc_id" % 31 === 0, n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "spec slice produced no contamination to check")
    assert(bloom == exact)
  }

  test("connectedComponents of an empty edge list is empty, not a hang") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).collect().isEmpty)
  }

  test("connectedComponents labels a known graph correctly") {
    // chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    // triangle 10-11-12, isolated edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
  }

  test("duplicateClusters is consistent with its own candidate pairs") {
    val docsReal = graft.Tables.documents(spark, sfDir)
    val clusters = Dedup.duplicateClusters(docsReal).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val lbl = clusters.map(c => c._1 -> c._2).toMap
    // every candidate pair must land in the same cluster
    Dedup.minHashCandidatePairs(docsReal).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
    }
    // cluster label is the min member; exactly one keeper per cluster
    clusters.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid)
      assert(ms.count(_._4 == 1) == 1 && ms.find(_._4 == 1).get._1 == cid)
      assert(ms.forall(_._3 == ms.length))
    }
  }

  test("collapsedNgramJaccardPairs is row-identical to the direct join " +
      "on a duplicated corpus") {
    // 3 copies of every doc (offset ids) — the duplication pattern that
    // makes the direct AllPairs join degrade quadratically
    val tripled = (0 until 3).map(k =>
        docs.select((col("doc_id") + lit(k * 100L)).as("doc_id"),
          col("text"), col("source")))
      .reduce(_ unionByName _)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val direct = norm(Dedup.ngramJaccardPairs(tripled, threshold = 0.05))
    val collapsed =
      norm(Dedup.collapsedNgramJaccardPairs(tripled, threshold = 0.05))
    assert(collapsed == direct,
      s"collapse/expand drifted: direct=${direct.size} collapsed=${collapsed.size}")
    assert(direct.nonEmpty)
  }

  test("exactDupMembership maps every doc to the min doc_id of its text") {
    val m = Dedup.exactDupMembership(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }

  test("exactDupMembership keeps every null-text doc a singleton") {
    val withNulls = docs.select($"doc_id", $"text").union(
      Seq((5L, null: String), (6L, null: String), (7L, base))
        .toDF("doc_id", "text"))
    val m = Dedup.exactDupMembership(withNulls).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 6L, 7L -> 0L))
  }

  test("incrementalNearDups equals the cross slice of the full AllPairs join") {
    val corpus = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(120)
    // batch: every 4th doc re-crawled verbatim under a fresh id range
    val batch = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val got = Dedup.incrementalNearDups(corpus, batch, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: AllPairs over the union, keeping only cross pairs
    // (batch ids are all > 5000, so they always land on doc_b)
    val expect = Dedup.ngramJaccardPairs(
        corpus.unionByName(batch), threshold = 0.5)
      .filter(col("doc_a") < 5000 && col("doc_b") >= 5000)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet
    assert(got == expect, s"asym drifted: missing=${(expect -- got).take(3)} " +
      s"extra=${(got -- expect).take(3)}")
    assert(got.nonEmpty)
    // asymmetry: no batch x batch or corpus x corpus pair can appear
    assert(got.forall { case (b, c, _) => b >= 5000 && c < 5000 })
    // every verbatim re-crawl surfaces its source at jaccard 1.0
    val verbatim = got.filter { case (b, c, j) => b - 5000 == c && j == 1.0 }
    assert(verbatim.size == batch.count())
  }
}
