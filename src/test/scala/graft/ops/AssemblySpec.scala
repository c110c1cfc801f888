package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AssemblySpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("deterministicShuffle is a permutation: positions are 0..N-1") {
    val out = Assembly.deterministicShuffle(docs, "doc_id", seed = 1L)
    val n = docs.count()
    assert(out.count() == n)
    val posStats = out.agg(min("shuffle_pos"), max("shuffle_pos"),
      countDistinct("shuffle_pos")).head
    assert(posStats.getLong(0) == 0L)
    assert(posStats.getLong(1) == n - 1)
    assert(posStats.getLong(2) == n)
  }

  test("deterministicShuffle is invariant to input partitioning") {
    val a = Assembly.deterministicShuffle(docs, "doc_id", seed = 9L)
      .select("doc_id", "shuffle_pos").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toMap
    val b = Assembly.deterministicShuffle(docs.repartition(7), "doc_id",
        seed = 9L)
      .select("doc_id", "shuffle_pos").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toMap
    assert(a == b, "positions must not depend on the input's partitioning")
  }

  test("deterministicShuffle: a different seed permutes the order") {
    val a = Assembly.deterministicShuffle(docs, "doc_id", seed = 1L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    val b = Assembly.deterministicShuffle(docs, "doc_id", seed = 2L)
      .select("doc_id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(a != b, "two seeds giving the identical permutation is ~impossible")
    assert(a.keySet == b.keySet)
  }

  test("splitCutoffs rejects bad fractions and covers [0, P)") {
    intercept[IllegalArgumentException] {
      Assembly.splitCutoffs(Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] { Assembly.splitCutoffs(Nil) }
    val cuts = Assembly.splitCutoffs(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(cuts.map(_._1) == Seq("train", "val", "test"))
    assert(cuts.last._2 == 1000000007L, "last cutoff must be P itself")
    assert(cuts == cuts.sortBy(_._2), "cutoffs must be nondecreasing")
  }

  test("leakageSafeSplit: every near-dup cluster lands in ONE split") {
    val split = Assembly.leakageSafeSplit(docs, seed = 3L)
    val straddlers = split.groupBy("cluster_rep")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddlers == 0L, "a cluster straddling splits is the leak")
    // and the clusters are the q53 clusters, not singletons-only: at
    // least one cluster_rep is shared by 2+ docs in this fixture
    assert(split.groupBy("cluster_rep").count().filter(col("count") > 1)
      .count() > 0, "fixture must exercise a real multi-doc cluster")
  }

  test("leakageSafeSplit fractions are roughly honored") {
    val n = docs.count().toDouble
    val bySplit = Assembly.leakageSafeSplit(docs, seed = 3L)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // hash assignment at fixture size: generous tolerance, the point is
    // "roughly the requested shape", exactness is the oracle's job
    assert(bySplit("train") / n > 0.6 && bySplit("train") / n < 0.95,
      s"train fraction off: $bySplit")
  }

  test("tokenBudgetShards: shards are contiguous in shuffle order and " +
      "bounded by budget + one straddling doc") {
    val budget = 5000L
    val d = docs.withColumn("tok",
      size(split(col("text"), " ")).cast("long"))
    val sharded = Assembly.tokenBudgetShards(d, "doc_id", "tok",
      budget, seed = 42L)
    assert(sharded.count() == d.count())
    val stats = sharded.groupBy("shard_id")
      .agg(sum("tok").as("n_tokens"), max("tok").as("max_tok"))
    // shard s holds the docs whose START offset falls in
    // [s*budget, (s+1)*budget) => its token sum < budget + its last doc
    val overfull = stats
      .filter(col("n_tokens") >= lit(budget) + col("max_tok")).count()
    assert(overfull == 0L, "a shard exceeded budget + one straddler")
    // contiguity: shard ids are dense 0..max (no holes — every window of
    // `budget` token offsets contains at least one doc start here,
    // because budget > max single doc)
    val ids = sharded.select("shard_id").distinct()
      .as[Long].collect().sorted
    assert(ids.head == 0L && ids.last == ids.length - 1,
      s"shard ids not dense: ${ids.take(10).mkString(",")}...")
  }

  test("tokenBudgetShards is invariant to input partitioning") {
    val d = docs.withColumn("tok",
      size(split(col("text"), " ")).cast("long"))
    val a = Assembly.tokenBudgetShards(d, "doc_id", "tok", 5000L, 42L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    val b = Assembly.tokenBudgetShards(d.repartition(5), "doc_id", "tok",
        5000L, 42L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("writeShards round-trips: manifest matches a recompute from the " +
      "written shards, and shard directories prune") {
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val d = docs.withColumn("tok",
      size(split(col("text"), " ")).cast("long"))
    val manifest = Assembly.writeShards(d, "doc_id", "tok",
      budget = 5000L, seed = 42L, outDir = out)
    val readBack = spark.read.parquet(s"$out/shards")
    // partitionBy writes shard_id as a directory key; recompute the
    // manifest from what actually landed on disk
    val recomputed = Assembly.shardManifest(
      readBack.withColumn("shard_id", col("shard_id").cast("long")),
      "doc_id", "tok")
    val m1 = manifest.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val m2 = recomputed.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m1 == m2, "manifest must match the written data exactly")
    assert(m1.values.map(_._1).sum == d.count())
    // a single-shard read prunes to that shard's directory
    val one = spark.read.parquet(s"$out/shards")
      .filter(col("shard_id") === 0)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(shard_id"),
      s"shard_id filter must prune partitions:\n$scan")
  }

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("duplicate ids fail loudly — a tied sort key would make the " +
      "deterministic order run-dependent") {
    val dup = docs.limit(20).unionByName(docs.limit(5))
    val e1 = intercept[Exception] {
      Assembly.deterministicShuffle(dup, "doc_id", seed = 1L).count()
    }
    assert(causeChain(e1).contains("not unique"))
    val e2 = intercept[Exception] {
      Assembly.tokenBudgetShards(dup.withColumn("tok", lit(3L)),
        "doc_id", "tok", budget = 100L, seed = 1L).count()
    }
    assert(causeChain(e2).contains("not unique"))
  }

  test("NULL and negative token counts fail loudly, naming the column") {
    val withNull = docs.limit(10).withColumn("tok",
      when(col("doc_id") % 5 === 0, lit(null).cast("long"))
        .otherwise(lit(3L)))
    val e1 = intercept[Exception] {
      Assembly.tokenBudgetShards(withNull, "doc_id", "tok", 100L, 1L)
        .count()
    }
    assert(causeChain(e1).contains("non-null"), causeChain(e1))
    val withNeg = docs.limit(10).withColumn("tok",
      when(col("doc_id") % 5 === 0, lit(-2L)).otherwise(lit(3L)))
    val e2 = intercept[Exception] {
      Assembly.tokenBudgetShards(withNeg, "doc_id", "tok", 100L, 1L)
        .count()
    }
    assert(causeChain(e2).contains(">= 0"), causeChain(e2))
  }

  test("reserved scratch / output column names are rejected up front") {
    intercept[IllegalArgumentException] {
      Assembly.deterministicShuffle(docs.withColumn("__h", lit(1)),
        "doc_id", 1L)
    }
    intercept[IllegalArgumentException] {
      Assembly.tokenBudgetShards(docs.withColumn("shard_id", lit(1))
        .withColumn("tok", lit(1L)), "doc_id", "tok", 100L, 1L)
    }
    intercept[IllegalArgumentException] {
      Assembly.leakageSafeSplit(docs.withColumn("split", lit("x")))
    }
  }

  test("readManifest requires a committed version marker (torn-write " +
      "guard)") {
    val out = java.nio.file.Files.createTempDirectory("shards3").toString
    val d = docs.limit(50).withColumn("tok",
      size(split(col("text"), " ")).cast("long"))
    Assembly.writeShards(d, "doc_id", "tok", 5000L, 1L, out)
    assert(Assembly.readManifest(spark, out).count() > 0)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(out, "_committed_v0"))
    val e = intercept[IllegalArgumentException] {
      Assembly.readManifest(spark, out)
    }
    assert(e.getMessage.contains("_committed"))
  }

  test("writeShards rerun (overwrite) is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("shards2").toString
    val d = docs.limit(50).withColumn("tok",
      size(split(col("text"), " ")).cast("long"))
    val m1 = Assembly.writeShards(d, "doc_id", "tok", 5000L, 1L, out)
      .collect().map(_.toSeq).toSet
    val m2 = Assembly.writeShards(d, "doc_id", "tok", 5000L, 1L, out)
      .collect().map(_.toSeq).toSet
    assert(m1 == m2)
  }

  private val epochWeights = Seq("src0" -> 40, "src1" -> 30,
    "src2" -> 20, "src3" -> 10)

  private def tokDocs = docs.withColumn("tok",
    size(split(col("text"), " ")).cast("long"))

  test("epochPlan: integer recipe invariants hold on every row") {
    val plan = Assembly.epochPlan(tokDocs, "source", "tok",
      epochWeights, budgetTokens = 12000L).collect()
    assert(plan.length == epochWeights.length)
    plan.foreach { r =>
      val (nTok, target, epochs, rem, ppm) = (r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))
      assert(epochs * nTok + rem == target, s"recipe must be exact: $r")
      assert(rem >= 0 && (nTok == 0 || rem < nTok))
      assert(ppm >= 0 && ppm < 1000000L)
    }
    // the fixture's ~1.3-1.6k tokens/source under 40/30/20/10 of 12k
    // exercises multi-repeat AND partial-only branches
    val byEpochs = plan.map(_.getLong(5)).toSet
    assert(byEpochs.exists(_ >= 2) && byEpochs.contains(0L),
      s"fixture should cover repeats and partial-only: $byEpochs")
  }

  test("expandEpochs: every doc appears exactly epochs or epochs+1 " +
      "times, and per-source totals stay within one epoch of target") {
    val plan = Assembly.epochPlan(tokDocs, "source", "tok",
      epochWeights, 12000L).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4),
        r.getLong(5))).toMap
    val out = Assembly.expandEpochs(tokDocs, "source", "doc_id", "tok",
      epochWeights, 12000L, seed = 11L)
    val perDoc = out.groupBy("doc_id", "source").count().collect()
    perDoc.foreach { r =>
      val epochs = plan(r.getString(1))._3
      assert(r.getLong(2) == epochs || r.getLong(2) == epochs + 1,
        s"doc ${r.getLong(0)}: ${r.getLong(2)} copies vs epochs $epochs")
    }
    // expanded token mass per source is bounded by the full-epoch floor
    // and ceiling — the partial epoch can only add, at most one epoch
    val mass = out.join(tokDocs.select("doc_id", "tok"), "doc_id")
      .groupBy("source").agg(sum("tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.foreach { case (src, (nTok, _, epochs)) =>
      val t = mass.getOrElse(src, 0L)
      assert(t >= epochs * nTok && t <= (epochs + 1) * nTok,
        s"$src: expanded $t outside [$epochs, ${epochs + 1}] epochs")
    }
  }

  test("appendShards: old shard files are byte-untouched, ids continue, " +
      "manifest grows; re-delivered ids and torn dirs are refused") {
    val out = java.nio.file.Files.createTempDirectory("shapp").toString
    val a = tokDocs.filter(col("doc_id") % 3 =!= 0)
    val b = tokDocs.filter(col("doc_id") % 3 === 0)
    val mA = Assembly.writeShards(a, "doc_id", "tok", 2000L, 42L, out)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // fingerprint the stored files before the append
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/shards"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
    }
    val before = files()
    val merged = Assembly.appendShards(b, "doc_id", "tok", out)
    val after = files()
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    val m = merged.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m.size > mA.size, "manifest must grow")
    mA.foreach { case (sid, ck) =>
      assert(m(sid)._3 == ck, s"old manifest row changed for shard $sid")
    }
    assert(m.keySet.max > mA.keySet.max, "new shard ids must continue")
    // total docs across the merged manifest = full corpus
    assert(m.values.map(_._1).sum == tokDocs.count())
    // a re-delivered batch is refused before anything is written
    val e = intercept[IllegalArgumentException] {
      Assembly.appendShards(b.limit(3), "doc_id", "tok", out)
    }
    assert(e.getMessage.contains("already stored"))
    // deleting only the NEWEST marker is a rollback by design (max
    // committed version wins, and the previous manifest is retained) —
    // a TORN directory is one with no marker at all
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("_committed_v"))
      .toList.foreach(java.nio.file.Files.delete)
    val e2 = intercept[IllegalArgumentException] {
      Assembly.appendShards(b, "doc_id", "tok", out)
    }
    assert(e2.getMessage.contains("no committed version"))
  }

  test("epoch recipe guards: a weighted source missing from the corpus " +
      "stays visible; duplicate weight keys and runaway epochs fail " +
      "loudly") {
    val plan = Assembly.epochPlan(tokDocs, "source", "tok",
      epochWeights :+ ("src_missing" -> 10), 12000L).collect()
      .map(r => r.getString(0) -> r).toMap
    val ghost = plan("src_missing")
    assert(ghost.getLong(1) == 0L && ghost.getLong(2) == 0L)
    assert(ghost.getLong(5) == 0L, "no epochs for an absent source")
    assert(ghost.getLong(6) == ghost.getLong(4),
      "the absent source's whole target must surface in rem_tokens")
    intercept[IllegalArgumentException] {
      Assembly.epochPlan(tokDocs, "source", "tok",
        Seq("src0" -> 30, "src0" -> 70), 12000L)
    }
    val e = intercept[IllegalArgumentException] {
      Assembly.expandEpochs(tokDocs, "source", "doc_id", "tok",
        epochWeights, 12000L, seed = 1L, maxEpochs = 1L)
    }
    assert(e.getMessage.contains("maxEpochs"))
  }

  test("a crashed append leaves readers on the old committed view, and " +
      "replaying the append converges to the clean-room result") {
    val out = java.nio.file.Files.createTempDirectory("shapp2").toString
    val a = tokDocs.filter(col("doc_id") % 3 =!= 0)
    val b = tokDocs.filter(col("doc_id") % 3 === 0)
    val mA = Assembly.writeShards(a, "doc_id", "tok", 2000L, 42L, out)
      .collect().map(_.toSeq).toSet
    val nextShard = mA.map(_.head.asInstanceOf[Long]).max + 1
    // simulate an append that died after its data write: stray shard
    // dirs exist (here: a partial 5-doc prefix of the batch), but no
    // manifest_v1 and no marker flip
    Assembly.tokenBudgetShards(b.limit(5), "doc_id", "tok", 2000L, 42L)
      .withColumn("shard_id", col("shard_id") + lit(nextShard))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id").parquet(s"$out/shards")
    // readers still resolve the committed batch-A-only view
    assert(Assembly.readManifest(spark, out).collect().map(_.toSeq).toSet
      == mA, "a mid-append crash must not change the committed view")
    // the replay succeeds (committed-id pruning ignores the stray dirs)
    // and commits exactly the clean-room manifest
    val m1 = Assembly.appendShards(b, "doc_id", "tok", out)
      .collect().map(_.toSeq).toSet
    val clean = java.nio.file.Files.createTempDirectory("shapp3").toString
    Assembly.writeShards(a, "doc_id", "tok", 2000L, 42L, clean)
    val m2 = Assembly.appendShards(b, "doc_id", "tok", clean)
      .collect().map(_.toSeq).toSet
    assert(m1 == m2, "replayed append must converge to the same manifest")
  }

  test("trainingOrder: a permutation of the expanded corpus, with " +
      "copies of the same doc scattered, reproducible from the seed") {
    val out = Assembly.trainingOrder(tokDocs, "source", "doc_id", "tok",
      epochWeights, 12000L, seed = 11L)
    val n = Assembly.expandEpochs(tokDocs, "source", "doc_id", "tok",
      epochWeights, 12000L, seed = 11L).count()
    val rows = out.collect()
    assert(rows.length == n)
    assert(rows.map(_.getLong(3)).sorted.toSeq == (0L until n),
      "shuffle_pos must be the dense 0..N-1 permutation")
    // multi-epoch copies of one doc must not sit adjacent: the hash
    // avalanches the epoch, so the MAX observed adjacency run of one
    // doc_id should be 1 (allow 2 for freak collisions)
    val byPos = rows.sortBy(_.getLong(3)).map(_.getLong(0))
    val maxRun = byPos.foldLeft((0, -1L, 0)) { case ((best, prev, run), id) =>
      val r = if (id == prev) run + 1 else 1
      (math.max(best, r), id, r)
    }._1
    assert(maxRun <= 2, s"copies of one doc clustered (run $maxRun)")
    val again = Assembly.trainingOrder(tokDocs.repartition(9), "source",
      "doc_id", "tok", epochWeights, 12000L, seed = 11L)
      .collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
  }

  test("appendShardsExactlyOnce: a committed replay no-ops, " +
      "half-overlap is refused") {
    val out = java.nio.file.Files.createTempDirectory("shexactly").toString
    val a = tokDocs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("tok"))
    val b = tokDocs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("tok"))
    val c = tokDocs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("tok"))
    Assembly.writeShards(a, "doc_id", "tok", 2000L, 42L, out)
    Assembly.appendShardsExactlyOnce(b, "doc_id", "tok", out)
    Assembly.appendShardsExactlyOnce(c, "doc_id", "tok", out)
    val landed = Assembly.readManifest(spark, out).collect()
    assert(landed.map(_.getLong(1)).sum == tokDocs.count(),
      "every doc must land exactly once across write + two appends")
    // a committed batch re-delivered no-ops, while a half-overlapping
    // batch is refused
    val before = landed.map(_.toSeq).toSet
    Assembly.appendShardsExactlyOnce(b, "doc_id", "tok", out)
    assert(Assembly.readManifest(spark, out).collect().map(_.toSeq).toSet
      == before, "committed replay must be a no-op")
    val e = intercept[IllegalArgumentException] {
      Assembly.appendShardsExactlyOnce(
        b.limit(1).unionByName(tokDocs
          .select((col("doc_id") + lit(90000000L)).as("doc_id"),
            col("tok")).limit(1)),
        "doc_id", "tok", out)
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("exactly-once append soak: over 50 micro-batches, every 7th " +
      "re-delivers a committed batch (a no-op) and every 11th first " +
      "lands as a crashed half-append that the real append heals") {
    // The pairwise specs above pin each transition; this drives their
    // interleavings, then checks the committed manifest against the
    // definitional recompute from the files.
    val toks = tokDocs.select(col("doc_id"), col("tok"))
    val out = java.nio.file.Files.createTempDirectory("shardsoak").toString
    val budget = 8000L
    def mkBatch(i: Int) = toks
      .filter(col("doc_id") % 17 === (i % 17).toLong)
      .select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("tok"))
    def manifestDocs() = Assembly.readManifest(spark, out)
      .agg(sum(col("n_docs"))).head.getLong(0)
    val initial = toks.filter(col("doc_id") % 10 === 0)
    Assembly.writeShards(initial, "doc_id", "tok", budget, seed = 42L, out)
    var expDocs = initial.count()
    var expToks = initial.agg(sum(col("tok"))).head.getLong(0)
    var replays = 0; var crashes = 0
    val committed = scala.collection.mutable.Buffer.empty[Int]
    (1 to 50).foreach { i =>
      if (i % 7 == 0 && committed.nonEmpty) {
        val j = committed((i * 31) % committed.size)
        val before = manifestDocs()
        Assembly.appendShardsExactlyOnce(mkBatch(j), "doc_id", "tok", out)
        assert(manifestDocs() == before,
          s"re-delivered batch $j was double-counted")
        replays += 1
      } else {
        val b = mkBatch(i)
        if (i % 11 == 0) {
          // a crashed half-append: the batch's shard data on disk above
          // the committed max, nothing committed
          val nextShard = Assembly.readManifest(spark, out)
            .agg(max(col("shard_id"))).head.getLong(0) + 1L
          Assembly.tokenBudgetShards(b, "doc_id", "tok", budget, seed = 42L)
            .withColumn("shard_id", col("shard_id") + lit(nextShard))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id").parquet(s"$out/shards")
          crashes += 1
        }
        Assembly.appendShardsExactlyOnce(b, "doc_id", "tok", out)
        expDocs += b.count()
        expToks += b.agg(sum(col("tok"))).head.getLong(0)
        committed += i
      }
    }
    assert((replays, crashes) == ((7, 4)))
    assert(Assembly.validateShards(spark, out, "doc_id", "tok")
      .filter(!col("ok")).isEmpty,
      "validateShards flagged shards after the soak")
    val m = Assembly.readManifest(spark, out)
      .agg(sum(col("n_docs")), sum(col("n_tokens"))).head
    assert((m.getLong(0), m.getLong(1)) == ((expDocs, expToks)),
      "manifest diverged from the definitional recompute")
    val maxCommitted = Assembly.readManifest(spark, out)
      .agg(max(col("shard_id"))).head.getLong(0)
    val files = spark.read.parquet(s"$out/shards")
      .filter(col("shard_id") <= maxCommitted)
      .agg(count(lit(1)), sum(col("tok"))).head
    assert((files.getLong(0), files.getLong(1)) == ((expDocs, expToks)),
      "committed shard files diverged from the expected corpus")
  }

  test("validateShards: clean store validates ok; missing files and " +
      "drifted content flag as error-as-data rows") {
    val out = java.nio.file.Files.createTempDirectory("shqa").toString
    val d = tokDocs.select(col("doc_id"), col("tok"))
    Assembly.writeShards(d, "doc_id", "tok", 2000L, 42L, out)
    val clean = Assembly.validateShards(spark, out, "doc_id", "tok")
    assert(clean.filter(!col("ok")).count() == 0)
    val nShards = clean.count()
    // corrupt shard 0: duplicate one of its part files (doubles docs)
    import scala.jdk.CollectionConverters._
    val dir0 = java.nio.file.Paths.get(s"$out/shards/shard_id=0")
    val part = java.nio.file.Files.list(dir0).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.head
    java.nio.file.Files.copy(part,
      dir0.resolve("part-dup.c000.snappy.parquet"))
    // vaporize shard 1's files entirely
    val dir1 = java.nio.file.Paths.get(s"$out/shards/shard_id=1")
    java.nio.file.Files.list(dir1).iterator().asScala.toList
      .foreach(java.nio.file.Files.delete)
    java.nio.file.Files.delete(dir1)
    val swept = Assembly.validateShards(spark, out, "doc_id", "tok")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(3), r.getString(4))).toMap
    assert(swept.size == nShards, "every manifest row must be swept")
    assert(swept(0L) == (false, "content mismatch"), s"${swept(0L)}")
    assert(swept(1L) == (false, "missing files"), s"${swept(1L)}")
    assert(swept.count(_._2._1) == nShards - 2,
      "the other shards must keep validating ok")
    // total loss: the whole shards/ tree gone — every row must report
    // missing files as DATA, not kill the sweep in the parquet reader
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/shards"))
      .sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.toList.foreach(java.nio.file.Files.delete)
    val total = Assembly.validateShards(spark, out, "doc_id", "tok")
      .collect()
    assert(total.length == nShards)
    assert(total.forall(r => !r.getBoolean(3)
      && r.getString(4) == "missing files"),
      "total loss must surface as all-missing rows")
  }

  test("an empty writeShards input refuses BEFORE destroying the " +
      "committed view") {
    val out = java.nio.file.Files.createTempDirectory("shempty").toString
    val d = tokDocs.select(col("doc_id"), col("tok"))
    // fresh dir: plain refusal
    intercept[IllegalArgumentException] {
      Assembly.writeShards(d.limit(0), "doc_id", "tok", 2000L, 42L, out)
    }
    // committed dir: the refusal must fire before the markers die — a
    // rebuild from an accidentally-empty frame (a broken upstream
    // filter) must leave the store readable
    val m1 = Assembly.writeShards(d, "doc_id", "tok", 2000L, 42L, out)
      .collect().map(_.toSeq).toSet
    intercept[IllegalArgumentException] {
      Assembly.writeShards(d.limit(0), "doc_id", "tok", 2000L, 42L, out)
    }
    assert(Assembly.readManifest(spark, out)
      .collect().map(_.toSeq).toSet == m1,
      "refused empty rebuild still destroyed the committed view")
  }

  test("trainingOrder fails loudly when the id range would overflow the " +
      "composite sample_id") {
    val wide = tokDocs.withColumn("doc_id",
      col("doc_id") + lit(Long.MaxValue / 10L))
    val e = intercept[IllegalArgumentException] {
      Assembly.trainingOrder(wide, "source", "doc_id", "tok",
        epochWeights, 12000L, seed = 11L, maxEpochs = 1000L)
    }
    assert(e.getMessage.contains("overflows"),
      s"overflow must be named, got: ${e.getMessage}")
  }

  test("expandEpochs is deterministic in the seed") {
    val a = Assembly.expandEpochs(tokDocs, "source", "doc_id", "tok",
      epochWeights, 12000L, 11L).collect().map(_.toSeq).toSet
    val b = Assembly.expandEpochs(tokDocs.repartition(7), "source",
      "doc_id", "tok", epochWeights, 12000L, 11L)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("purgeDocs' affected-shard detection reads ONLY the id column — " +
      "the text bytes of unaffected shards are never touched, and the " +
      "committed-max bound lands in PartitionFilters") {
    val out = java.nio.file.Files.createTempDirectory("shplan").toString
    val d = tokDocs.withColumn("payload", col("text")) // a fat column
    Assembly.writeShards(d, "doc_id", "tok", 2000L, 42L, out)
    val maxShard = Assembly.readManifest(spark, out)
      .agg(max(col("shard_id"))).head.getLong(0)
    val ids = tokDocs.filter(col("doc_id") % 13 === 3).select(col("doc_id"))
    val p = Assembly.affectedShardScan(spark, out, ids, "doc_id", maxShard)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val read = "ReadSchema: [^\\n]*doc_id[^\\n]*".r.findFirstIn(p)
    assert(read.isDefined, s"no shard-store ReadSchema in:\n$p")
    assert(!read.get.contains("text") && !read.get.contains("payload") &&
      !read.get.contains("tok"),
      s"the detection scan reads more than the id column: ${read.get}")
    assert("PartitionFilters: [^\\n]*shard_id[^\\n]*".r
      .findFirstIn(p).isDefined,
      s"committed-max bound did not land in PartitionFilters:\n$p")
  }

  test("the persisted takedown registry guards the SHARD store's own " +
      "ingest: appendShards, exactly-once appends, and a full rebuild " +
      "all drop registered ids with no caller cooperation") {
    val out = java.nio.file.Files.createTempDirectory("shreg").toString
    val a = tokDocs.filter(col("doc_id") % 3 =!= 0)
    val b = tokDocs.filter(col("doc_id") % 3 === 0)
    Assembly.writeShards(a, "doc_id", "tok", 2000L, 42L, out)
    // block the even half of batch B before it is ever delivered
    val blocked = b.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
    val blockedIds = blocked.collect().map(_.getLong(0)).toSet
    assert(blockedIds.nonEmpty, "fixture premise")
    Takedown.register(spark, out, blocked, "doc_id")
    def stored(): Set[Long] = spark.read.parquet(s"$out/shards")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Assembly.appendShards(b, "doc_id", "tok", out)
    val s1 = stored()
    assert(s1.intersect(blockedIds).isEmpty,
      "appendShards exported a registered doc_id")
    assert(b.collect().map(_.getLong(0)).toSet.diff(blockedIds)
      .subsetOf(s1), "the guard dropped innocent batch rows")
    assert(Assembly.validateShards(spark, out, "doc_id", "tok")
      .filter(!col("ok")).isEmpty,
      "guarded append left an inconsistent manifest")
    // an exactly-once micro-batch of ONLY blocked ids classifies as
    // empty: no version churn, nothing written
    val markers = new java.io.File(out).list()
      .filter(_.startsWith("_committed_v")).toSet
    Assembly.appendShardsExactlyOnce(
      b.filter(col("doc_id") % 2 === 0), "doc_id", "tok", out)
    assert(new java.io.File(out).list()
      .filter(_.startsWith("_committed_v")).toSet == markers,
      "an all-blocked micro-batch churned a manifest version")
    // a full rebuild from the raw corpus honors the registry too
    Assembly.writeShards(tokDocs, "doc_id", "tok", 2000L, 42L, out)
    assert(stored().intersect(blockedIds).isEmpty,
      "writeShards rebuild re-exported a registered doc_id")
  }

  test("purgeDocs: taken-down ids leave the committed shards — only " +
      "affected shard files rewritten, validateShards green on the new " +
      "version, re-delivered purge no-ops, a crashed purge replays off " +
      "the _purge_pending witness, an emptied shard is dropped whole") {
    val out = java.nio.file.Files.createTempDirectory("shpurge").toString
    Assembly.writeShards(tokDocs, "doc_id", "tok", 2000L, 42L, out)
    val fs = graft.wri.WriFs.fs(out, spark.sparkContext.hadoopConfiguration)
    def shardOf(): Map[Long, Long] = spark.read.parquet(s"$out/shards")
      .select(col("doc_id"), col("shard_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/shards"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
    }
    def allOk(): Boolean = Assembly
      .validateShards(spark, out, "doc_id", "tok")
      .collect().forall(_.getBoolean(3))
    def storedIds(): Set[Long] = spark.read.parquet(s"$out/shards")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val takedown = tokDocs.filter(col("doc_id") % 13 === 3)
      .select(col("doc_id"))
    val victims = takedown.collect().map(_.getLong(0)).toSet
    assert(victims.nonEmpty, "fixture premise: some victims")
    val affected = victims.map(shardOf())
    val before = files()
    val m2 = Assembly.purgeDocs(spark, out, takedown, "doc_id", "tok")
    // the takedown is GONE from the exported data
    assert(storedIds().intersect(victims).isEmpty,
      "a purged doc_id still lives in the shard files")
    // untouched shards are byte-identical (a trainer mid-epoch keeps
    // streaming them); affected ones were rewritten
    val after = files()
    before.foreach { case (p, sig) =>
      val sid = "shard_id=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
      if (!affected.contains(sid))
        assert(after.get(p).contains(sig), s"untouched shard changed: $p")
      else assert(!after.get(p).contains(sig),
        s"affected shard file not rewritten: $p")
    }
    // the new committed version's manifest describes the files exactly
    assert(allOk(), "validateShards flagged the post-purge store")
    assert(m2.agg(sum(col("n_docs"))).head.getLong(0) ==
      tokDocs.count() - victims.size)
    // a re-delivered purge no-ops: no rewrite, no new version
    val markersBefore = new java.io.File(out).list()
      .filter(_.startsWith("_committed_v")).toSet
    val filesBefore = files()
    Assembly.purgeDocs(spark, out, takedown, "doc_id", "tok")
    assert(files() == filesBefore, "re-delivered purge rewrote files")
    assert(new java.io.File(out).list()
      .filter(_.startsWith("_committed_v")).toSet == markersBefore,
      "re-delivered purge committed a new version")
    // crash replay: a purge that rewrote ONE affected shard and died
    // before the manifest commit left only the _purge_pending witness —
    // the replay must pick that shard back up even though its files no
    // longer hold the ids (the semi-join alone would miss it)
    val t2 = tokDocs.filter(col("doc_id") % 13 === 5).select(col("doc_id"))
    val t2ids = t2.collect().map(_.getLong(0)).toSet
    val aff2 = t2ids.map(shardOf())
    Commit.writeSealedIds(fs,
      new org.apache.hadoop.fs.Path(s"$out/_purge_pending"), aff2)
    val one = aff2.head
    val rw = java.nio.file.Files.createTempDirectory("shpurge_rw").toString
    spark.read.parquet(s"$out/shards/shard_id=$one")
      .filter(!col("doc_id").isin(t2ids.toSeq: _*))
      .write.mode("overwrite").parquet(rw)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/shards/shard_id=$one"),
      true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(rw),
      new org.apache.hadoop.fs.Path(s"$out/shards/shard_id=$one")))
    assert(!allOk(), "fabricated crash premise: manifest must be stale")
    Assembly.purgeDocs(spark, out, t2, "doc_id", "tok")
    assert(storedIds().intersect(t2ids).isEmpty)
    assert(allOk(), "replayed purge left a stale manifest row")
    assert(!new java.io.File(s"$out/_purge_pending").exists(),
      "witness not cleared after the committed replay")
    // emptying a whole shard drops its directory AND its manifest row
    val som = shardOf()
    val victimShard = som.values.head
    val t3ids = som.collect { case (d, s) if s == victimShard => d }.toSeq
    val m5 = Assembly.purgeDocs(spark, out,
      t3ids.toDF("doc_id"), "doc_id", "tok")
    assert(!new java.io.File(s"$out/shards/shard_id=$victimShard").exists(),
      "an emptied shard's directory (still holding the text) survived")
    assert(m5.filter(col("shard_id") === victimShard).isEmpty,
      "an emptied shard kept a manifest row")
    assert(allOk(), "validateShards flagged the store after the " +
      "empty-shard purge")
    // the terminal compliance case: take down EVERYTHING that remains —
    // the store commits an empty manifest (it remembers nothing,
    // correctly), every shard directory is gone, and the QA sweep
    // reports an empty, green result instead of crashing on a null max
    Assembly.purgeDocs(spark, out,
      storedIds().toSeq.toDF("doc_id"), "doc_id", "tok")
    assert(!new java.io.File(s"$out/shards").listFiles()
      .exists(_.getName.startsWith("shard_id=")),
      "full-corpus purge left shard directories")
    assert(Assembly.readManifest(spark, out).isEmpty,
      "full-corpus purge left manifest rows")
    assert(Assembly.validateShards(spark, out, "doc_id", "tok").isEmpty,
      "the sweep of a fully-purged store should be empty, not a crash")
    // and the store LIVES ON: a fresh append lands at shard 0 (no
    // overlap scan against the file-less root), validates green
    val revive = tokDocs.filter(col("doc_id") % 17 === 1)
      .select((col("doc_id") + 900000L).as("doc_id"), col("tok"))
    Assembly.appendShards(revive, "doc_id", "tok", out)
    assert(Assembly.readManifest(spark, out)
      .agg(sum(col("n_docs"))).head.getLong(0) == revive.count(),
      "append onto the emptied store did not land")
    assert(Assembly.validateShards(spark, out, "doc_id", "tok")
      .filter(!col("ok")).isEmpty)
  }
}
