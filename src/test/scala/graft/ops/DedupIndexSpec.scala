package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  /** The q90-style nightly batch: re-crawls + revisions + fresh docs. */
  private lazy val batch = {
    val recrawl = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 20000L).as("doc_id"), $"text")
    val fresh = docs.filter($"doc_id" % 10 === 7)
      .select(($"doc_id" + 40000L).as("doc_id"), upper($"text").as("text"))
    recrawl.unionByName(fresh)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private lazy val fullIndexDir: String = {
    val d = tmp("didx_full")
    DedupIndex.write(spark, docs, d)
    d
  }

  test("uncapped index pairs equal the in-memory MinHash banding " +
      "restricted to batch x corpus") {
    // same family, same banding: with the bucket caps effectively off on
    // both sides, the disk path must reproduce minHashCandidatePairs'
    // cross-slice exactly (index docs < 20000 < batch docs, so doc_a is
    // always the corpus side there)
    val disk = pairSet(DedupIndex.queryPairs(spark, fullIndexDir, batch,
      maxBucketSize = Int.MaxValue))
    val mem = Dedup.minHashCandidatePairs(docs.unionByName(batch),
        maxBucketSize = Int.MaxValue)
      .filter($"doc_a" < 20000L && $"doc_b" >= 20000L)
      .collect().map(r => (r.getDouble(2), r.getLong(0), r.getLong(1)))
      .map { case (e, a, b) => (b, a, e) }.toSet
    assert(disk == mem,
      s"disk path drifted: ${disk.size} vs ${mem.size} pairs; " +
        s"only-disk=${(disk -- mem).take(3)} only-mem=${(mem -- disk).take(3)}")
  }

  test("multi-batch accumulation: write(even) + append(odd) answers " +
      "exactly like write(all)") {
    val d = tmp("didx_inc")
    DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d)
    DedupIndex.append(spark, d, docs.filter($"doc_id" % 2 === 1), batchId = 1L)
    val inc = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val full = pairSet(DedupIndex.queryPairs(spark, fullIndexDir, batch))
    assert(inc == full, s"${inc.size} vs ${full.size} pairs")
  }

  test("ingest replay with an explicit batch id returns the original " +
      "pairs and adds no postings — even after a LATER batch commits") {
    val d = tmp("didx_replay")
    DedupIndex.write(spark, docs, d)
    val first = pairSet(DedupIndex.ingest(spark, d, batch, batchId = 7L))
    val rowsAfter = spark.read.parquet(s"$d/postings").count()
    val replay = pairSet(DedupIndex.ingest(spark, d, batch, batchId = 7L))
    assert(replay == first, "replayed ingest drifted from the original")
    assert(spark.read.parquet(s"$d/postings").count() == rowsAfter,
      "replayed ingest duplicated postings")
    // a later batch lands, then batch 7 is replayed (a retried nightly
    // job): it must still score against the index AS OF its own id —
    // pairs against batch 8's docs would be novel output the original
    // run never produced
    DedupIndex.ingest(spark, d, batch.select($"doc_id" + 100000L as "doc_id",
      $"text"), batchId = 8L)
    val lateReplay = pairSet(DedupIndex.ingest(spark, d, batch, batchId = 7L))
    assert(lateReplay == first,
      "replay after a later commit leaked post-hoc pairs")
  }

  test("a half-written batch (no _SUCCESS) is invisible and the replay " +
      "heals it") {
    val d = tmp("didx_crash")
    DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d)
    DedupIndex.append(spark, d, docs.filter($"doc_id" % 2 === 1), batchId = 1L)
    val healthy = pairSet(DedupIndex.queryPairs(spark, d, batch))
    // simulate a crash mid-commit: the postings job marker vanishes
    val marker = new java.io.File(s"$d/postings/batch=1/_SUCCESS")
    assert(marker.exists()); marker.delete()
    val degraded = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val evenOnly = pairSet {
      val d2 = tmp("didx_even")
      DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d2)
      DedupIndex.queryPairs(spark, d2, batch)
    }
    assert(degraded == evenOnly,
      "uncommitted batch leaked into the query")
    // the replay overwrites the torn directory and recommits
    DedupIndex.append(spark, d, docs.filter($"doc_id" % 2 === 1), batchId = 1L)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == healthy)
  }

  test("pruned IN-list regime and keyed-join regime are result-identical") {
    val pruned = pairSet(DedupIndex.queryPairs(spark, fullIndexDir, batch))
    val joined = pairSet(DedupIndex.queryPairs(spark, fullIndexDir, batch,
      probeCap = 0))
    assert(pruned == joined, s"${pruned.size} vs ${joined.size} pairs")
  }

  test("a small batch's postings scan prunes to its bucket shards at " +
      "the directory level") {
    val one = batch.orderBy($"doc_id").limit(1)
    val q = DedupIndex.queryPairs(spark, fullIndexDir, one, eager = false)
    q.collect() // the join plan is adaptive: stages exist only after exec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: QueryStageExec => scans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
    val postingFiles = scans(q.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray.toSeq
        .map(_.filePath.toString))
      .filter(_.contains("/postings/"))
    val shards = postingFiles.map(_.split("bbp=")(1).split("/")(0)).distinct
    // one doc bands into <= 16 buckets -> <= 16 of the 64 shard dirs
    assert(postingFiles.nonEmpty && shards.size <= 16,
      s"scan touched ${shards.size} shard dirs: $shards")
  }

  test("hot buckets are stop-buckets: stored posting lists over the cap " +
      "generate nothing") {
    val d = tmp("didx_hot")
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val hot = (0L until 60L).map(i => (i, same)).toDF("doc_id", "text")
    DedupIndex.write(spark, hot, d)
    val probe = Seq((100L, same)).toDF("doc_id", "text")
    // every band bucket holds all 60 stored docs: over a cap of 50
    assert(DedupIndex.queryPairs(spark, d, probe, maxBucketSize = 50)
      .isEmpty, "capped bucket still produced candidates")
    val uncapped = DedupIndex.queryPairs(spark, d, probe,
      maxBucketSize = 100)
    assert(uncapped.count() == 60L &&
      uncapped.agg(min($"est_jaccard")).head().getDouble(0) == 1.0)
  }

  test("negative doc_ids (hash-keyed corpora) shard-prune correctly in " +
      "BOTH regimes") {
    // write-side partitioning uses pmod; a sign-following % on the probe
    // side would silently miss every negative key's shard
    val d = tmp("didx_neg")
    val neg = docs.limit(50)
      .select((-col("doc_id") - 1L).as("doc_id"), $"text")
    DedupIndex.write(spark, neg, d)
    val probe = docs.limit(50)
      .select((col("doc_id") + 90000L).as("doc_id"), $"text")
    val pruned = pairSet(DedupIndex.queryPairs(spark, d, probe))
    val joined = pairSet(DedupIndex.queryPairs(spark, d, probe,
      probeCap = 0))
    assert(pruned == joined, s"${pruned.size} vs ${joined.size} pairs")
    // every probe doc re-finds its negative-id twin at est 1.0
    assert(pruned.size >= 50 &&
      pruned.count(_._3 == 1.0) >= 50, s"${pruned.size} pairs")
  }

  test("compact folds the serving set into one batch — result-invisible " +
      "for queries and future ingests, crash windows covered") {
    val d = tmp("didx_cpt")
    DedupIndex.write(spark, docs.filter($"doc_id" % 3 === 0), d)
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 3 === 1),
      batchId = 1L)
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 3 === 2),
      batchId = 2L)
    val before = pairSet(DedupIndex.queryPairs(spark, d, batch))
    // crash window A: a STAGED fold without its marker is invisible —
    // fake one by duplicating batch 0 under a fold id
    def cp(src: String, dst: String): Unit = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(s).iterator().asScala.foreach { f =>
        val t = java.nio.file.Paths.get(dst, s.relativize(f).toString)
        if (java.nio.file.Files.isDirectory(f))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(f, t)
      }
    }
    cp(s"$d/postings/batch=0", s"$d/postings/batch=2000000000")
    cp(s"$d/sigs/batch=0", s"$d/sigs/batch=2000000000")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before,
      "an unreferenced staged fold leaked into the query")
    // the real compact: one fold batch serves, retired dirs are gone
    DedupIndex.compact(spark, d)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before,
      "compaction changed query results")
    val batchDirs = new java.io.File(s"$d/postings").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(batchDirs.size == 1 && batchDirs.head != "batch=0",
      s"expected one fold dir, got $batchDirs")
    // crash window B: a covered directory resurrected after the marker
    // is ignored, and the next compact sweeps it
    cp(s"$d/postings/${batchDirs.head}", s"$d/postings/batch=1")
    cp(s"$d/sigs/${batchDirs.head}", s"$d/sigs/batch=1")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before,
      "a covered resurrected batch leaked into the query")
    DedupIndex.compact(spark, d)
    assert(!new java.io.File(s"$d/postings/batch=1").exists(),
      "the next compact did not sweep the covered leftover")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before)
    // post-compact ingest: a NEW batch scores against the fold exactly
    // as it would have against the unfolded set, and lands normally
    val d2 = tmp("didx_cpt2")
    DedupIndex.write(spark, docs, d2)
    val expect = pairSet(DedupIndex.ingest(spark, d2, batch, batchId = 5L))
    val got = pairSet(DedupIndex.ingest(spark, d, batch, batchId = 5L))
    assert(got == expect, "post-compact ingest drifted from unfolded twin")
    // default id allocation continues past the folded ids
    assert(DedupIndex.append(spark, d,
      docs.limit(1).select($"doc_id" + 777000L as "doc_id", $"text")) == 6L)
  }

  test("stream and batch id pools never collide: after a streaming " +
      "ingest, default ids still allocate from the batch pool") {
    val d = tmp("didx_pools")
    DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d)
    DedupIndex.ingest(spark, d, batch, batchId = DedupIndex.StreamBatchBase)
    assert(new java.io.File(
      s"$d/postings/batch=${DedupIndex.StreamBatchBase}/_SUCCESS").exists())
    // the stream commit must NOT advance the batch pool: a default
    // append inside the stream pool would be seen as already committed
    // by the stream's next micro-batch, which would silently skip its
    // own write
    val id = DedupIndex.append(spark, d,
      docs.filter($"doc_id" % 2 === 1))
    assert(id == 1L, s"default id allocated in the stream pool: $id")
  }

  test("compact with stream batches does not mark future batch-pool " +
      "ingests as already done (per-pool fold coverage)") {
    val d = tmp("didx_poolfold")
    DedupIndex.write(spark, docs.filter($"doc_id" % 3 === 0), d)
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 3 === 1),
      batchId = DedupIndex.StreamBatchBase)
    DedupIndex.compact(spark, d) // folds batch 0 + stream 1000000
    // a fresh batch-pool ingest (id 1: above the batch pool's coverage
    // of 0, numerically below the folded stream id) must still WRITE —
    // a single-scalar coverage would see 1 <= 1000000 and skip it
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 3 === 2),
      batchId = 1L)
    assert(new java.io.File(s"$d/postings/batch=1/_SUCCESS").exists(),
      "batch-pool ingest was swallowed by the folded stream coverage")
    val got = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val full = pairSet(DedupIndex.queryPairs(spark, fullIndexDir, batch))
    assert(got == full, s"${got.size} vs ${full.size} pairs")
    // and the default allocator continues the batch pool, not the stream
    assert(DedupIndex.append(spark, d,
      docs.limit(1).select($"doc_id" + 888000L as "doc_id", $"text")) == 2L)
  }

  test("explicit ids in the fold range are rejected loudly") {
    // a committed fold-range batch would never be served and the next
    // compact's GC would delete it — data loss, so the verbs refuse
    intercept[IllegalArgumentException] {
      DedupIndex.append(spark, fullIndexDir, batch,
        batchId = DedupIndex.FoldBase)
    }
    intercept[IllegalArgumentException] {
      DedupIndex.ingest(spark, fullIndexDir, batch,
        batchId = DedupIndex.FoldBase + 5L)
    }
  }

  test("compact with nothing new since the last fold skips the " +
      "corpus rewrite") {
    val d = tmp("didx_noop")
    DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d)
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 2 === 1),
      batchId = 1L)
    DedupIndex.compact(spark, d)
    def foldDirs() = new java.io.File(s"$d/postings").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    val after = foldDirs()
    val marker = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_folded"))
    // a quiet weekly compact: no new batches -> the fold must NOT be
    // rewritten under a fresh id (at corpus scale that rewrite is the
    // whole index's I/O bill, spent for zero benefit)
    DedupIndex.compact(spark, d)
    assert(foldDirs() == after, "no-op compact rewrote the fold")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$d/_folded")) == marker,
      "no-op compact advanced the fold marker")
  }

  test("an empty index answers empty with the right schema") {
    val d = tmp("didx_empty")
    DedupIndex.write(spark, docs.limit(0), d)
    val out = DedupIndex.queryPairs(spark, d, batch)
    assert(out.columns.toSeq ==
      Seq("batch_doc", "index_doc", "est_jaccard") && out.isEmpty)
  }

  test("the index can forget its ENTIRE corpus: delete-all masks to " +
      "empty, compact reclaims to an empty fold that still answers " +
      "empty, and a fresh ingest revives it") {
    val d = tmp("didx_forgetall")
    DedupIndex.write(spark, docs, d)
    DedupIndex.delete(spark, d, docs.select($"doc_id"), batchId = 0L)
    assert(DedupIndex.queryPairs(spark, d, batch).isEmpty,
      "an all-tombstoned index answered pairs")
    DedupIndex.compact(spark, d)
    assert(DedupIndex.queryPairs(spark, d, batch).isEmpty,
      "the fully-reclaimed index did not answer empty")
    DedupIndex.append(spark, d, docs.filter($"doc_id" % 3 === 0),
      batchId = 1L)
    assert(!DedupIndex.queryPairs(spark, d, batch).isEmpty,
      "ingest onto the forgotten index did not serve (the batch's " +
        "re-crawls of % 30 == 0 docs are exact dups of the revived set)")
  }

  // ---- takedown tombstones (DedupIndex.delete) --------------------------

  private lazy val takedownIds =
    docs.filter($"doc_id" % 7 === 3).select($"doc_id")

  test("delete masks tombstoned docs out of queries AND ingests — " +
      "exactly as if they were never indexed") {
    val d = tmp("didx_del")
    DedupIndex.write(spark, docs, d)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    val masked = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val twinDir = tmp("didx_del_twin")
    DedupIndex.write(spark, docs.filter($"doc_id" % 7 =!= 3), twinDir)
    val twin = pairSet(DedupIndex.queryPairs(spark, twinDir, batch))
    assert(masked == twin,
      s"masked query drifted from the never-indexed twin: " +
        s"${masked.size} vs ${twin.size} pairs")
    assert(masked != pairSet(DedupIndex.queryPairs(spark, fullIndexDir,
      batch)), "the takedown set produced no maskable pairs — test inert")
    // ingest shares the masked scoring core
    val ing = pairSet(DedupIndex.ingest(spark, d, batch, batchId = 1L))
    assert(ing == twin, "ingest paired against tombstoned docs")
  }

  test("a stop-bucket drops back under the cap when deletes shrink its " +
      "stored size (mask happens BEFORE sizing)") {
    val d = tmp("didx_del_hot")
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val hot = (0L until 51L).map(i => (i, same)).toDF("doc_id", "text")
    DedupIndex.write(spark, hot, d)
    val probe = Seq((100L, same)).toDF("doc_id", "text")
    // 51 stored > cap 50: stop-bucket, nothing pairs
    assert(DedupIndex.queryPairs(spark, d, probe).isEmpty)
    DedupIndex.delete(spark, d, Seq(0L).toDF("doc_id"))
    // 50 LIVE rows: the bucket serves again — a mask applied after the
    // sizing would still count 51 and keep the bucket stopped
    assert(DedupIndex.queryPairs(spark, d, probe).count() == 50L,
      "deleted rows still counted toward the stop-bucket size")
  }

  test("delete replays are no-ops for explicit ids; default ids " +
      "allocate past the pool") {
    val d = tmp("didx_del_replay")
    DedupIndex.write(spark, docs, d)
    assert(DedupIndex.delete(spark, d, takedownIds, batchId = 0L) == 0L)
    val before = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val dirs0 = new java.io.File(s"$d/deletes").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(DedupIndex.delete(spark, d, takedownIds, batchId = 0L) == 0L)
    assert(new java.io.File(s"$d/deletes").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSeq == dirs0,
      "replayed delete landed a second tombstone dir")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before)
    // default id continues the delete pool
    assert(DedupIndex.delete(spark, d,
      docs.limit(1).select($"doc_id")) == 1L)
  }

  test("compact physically drops tombstoned docs, clears spent " +
      "tombstones, and keeps results + replay no-ops") {
    val d = tmp("didx_del_cpt")
    DedupIndex.write(spark, docs, d)
    DedupIndex.ingest(spark, d, batch, batchId = 1L)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    val probe = batch.select($"doc_id" + 300000L as "doc_id", $"text")
    val before = pairSet(DedupIndex.queryPairs(spark, d, probe))
    DedupIndex.compact(spark, d)
    assert(pairSet(DedupIndex.queryPairs(spark, d, probe)) == before,
      "compact with tombstones changed query results")
    // PHYSICAL drop: the folded layout holds no tombstoned doc anywhere
    assert(spark.read.parquet(s"$d/sigs")
      .filter($"doc_id" % 7 === 3 && $"doc_id" < 20000L).isEmpty,
      "tombstoned signatures survived the fold")
    assert(spark.read.parquet(s"$d/postings")
      .filter($"doc_id" % 7 === 3 && $"doc_id" < 20000L).isEmpty,
      "tombstoned postings survived the fold")
    // spent tombstone dirs are GC'd...
    val delDirs = Option(new java.io.File(s"$d/deletes").listFiles())
      .map(_.map(_.getName).filter(_.startsWith("batch=")).toSeq)
      .getOrElse(Seq.empty)
    assert(delDirs.isEmpty, s"spent tombstones survived compact: $delDirs")
    // ...and a replayed delete of an APPLIED id stays a no-op (the
    // marker's coveredDelete), so it cannot re-mask a re-ingested world
    assert(DedupIndex.delete(spark, d, takedownIds, batchId = 0L) == 0L)
    assert(Option(new java.io.File(s"$d/deletes").listFiles())
      .forall(_.isEmpty), "applied delete id was re-landed after compact")
    // default delete ids continue past the applied coverage
    assert(DedupIndex.delete(spark, d,
      docs.limit(1).select($"doc_id")) == 1L)
  }

  test("a crashed (uncommitted) tombstone survives a covering compact, " +
      "masks nothing meanwhile, and its replay still lands the takedown") {
    val d = tmp("didx_del_torn")
    DedupIndex.write(spark, docs, d)
    // crashed delete of explicit id 0: data landed, commit marker gone
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    val m = new java.io.File(s"$d/deletes/batch=0/_SUCCESS")
    assert(m.exists()); m.delete()
    // a LATER delete commits and a compact applies it — its coverage
    // (coveredDelete = 1) numerically spans the torn id 0
    DedupIndex.delete(spark, d,
      docs.filter($"doc_id" % 11 === 5).select($"doc_id"), batchId = 1L)
    DedupIndex.compact(spark, d)
    assert(new java.io.File(s"$d/deletes/batch=0").exists(),
      "compact GC'd a torn tombstone — its replay would no-op forever")
    val pre = pairSet(DedupIndex.queryPairs(spark, d, batch))
    // the replay of the crashed delete must LAND, not no-op under the
    // fold's coverage scalar
    assert(DedupIndex.delete(spark, d, takedownIds, batchId = 0L) == 0L)
    val post = pairSet(DedupIndex.queryPairs(spark, d, batch))
    assert(post != pre, "replayed crashed tombstone did not mask anything")
    val twinDir = tmp("didx_del_torn_twin")
    DedupIndex.write(spark,
      docs.filter($"doc_id" % 7 =!= 3 && $"doc_id" % 11 =!= 5), twinDir)
    assert(post == pairSet(DedupIndex.queryPairs(spark, twinDir, batch)),
      "post-replay mask drifted from the never-indexed twin")
  }

  test("a crashed tombstone-GC remnant (marker-last sweep: still " +
      "committed) is result-invisible, keeps replays no-ops, and is " +
      "re-swept by the next compact") {
    val d = tmp("didx_del_gcrem")
    DedupIndex.write(spark, docs, d)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    DedupIndex.compact(spark, d)
    val before = pairSet(DedupIndex.queryPairs(spark, d, batch))
    // fabricate the crash window the marker-last sweep leaves: the
    // applied tombstone's dir back on disk WITH its commit marker
    takedownIds.write.mode("overwrite").parquet(s"$d/deletes/batch=0")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before,
      "a committed remnant of an applied tombstone changed results")
    assert(DedupIndex.delete(spark, d, takedownIds, batchId = 0L) == 0L)
    DedupIndex.compact(spark, d)
    assert(!new java.io.File(s"$d/deletes/batch=0").exists(),
      "the next compact did not re-sweep the remnant")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == before)
  }

  test("a compact with ONLY pending takedowns (no new batches since the " +
      "fold) still applies them") {
    val d = tmp("didx_del_only")
    DedupIndex.write(spark, docs, d)
    DedupIndex.compact(spark, d)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    DedupIndex.compact(spark, d)
    assert(spark.read.parquet(s"$d/sigs")
      .filter($"doc_id" % 7 === 3).isEmpty,
      "takedown-only compact skipped the fold rewrite")
    val twinDir = tmp("didx_del_only_twin")
    DedupIndex.write(spark, docs.filter($"doc_id" % 7 =!= 3), twinDir)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) ==
      pairSet(DedupIndex.queryPairs(spark, twinDir, batch)))
  }

  test("a delete that crashed BEFORE any parquet landed (no directory at " +
      "all) still replays after a covering compact — the _landing_ " +
      "witness closes the no-dir window") {
    val d = tmp("didx_del_nodir")
    DedupIndex.write(spark, docs, d)
    // fabricate the object-store crash shape: the landing marker is the
    // first durable action, the parquet never landed, so NO batch dir
    // exists (on a real object store an "empty directory" is no object)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    graft.wri.WriFs.fs(d, spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$d/deletes/batch=0"), true)
    assert(new java.io.File(s"$d/deletes/_landing_0").exists(),
      "delete did not land its witness first — the window is open")
    // a LATER takedown commits and a compact applies it: coveredDelete=1
    // numerically spans the crashed id 0
    DedupIndex.delete(spark, d,
      docs.filter($"doc_id" % 11 === 5).select($"doc_id"), batchId = 1L)
    DedupIndex.compact(spark, d)
    assert(new java.io.File(s"$d/deletes/_landing_0").exists(),
      "compact GC'd the crashed delete's witness — its replay would " +
        "no-op forever and the takedown would be lost")
    // the replay must LAND, not no-op under the fold's coverage
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    assert(new java.io.File(s"$d/deletes/batch=0/_SUCCESS").exists(),
      "replay of the no-dir crashed delete was swallowed")
    val twinDir = tmp("didx_del_nodir_twin")
    DedupIndex.write(spark,
      docs.filter($"doc_id" % 7 =!= 3 && $"doc_id" % 11 =!= 5), twinDir)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) ==
      pairSet(DedupIndex.queryPairs(spark, twinDir, batch)),
      "replayed takedown did not mask")
  }

  test("a delete whose WITNESS write itself crashed between tmp-create " +
      "and rename (only _landing_<id>.tmp on disk) still replays after " +
      "a covering compact — the tmp is just as much a durable witness") {
    val d = tmp("didx_del_tmpwitness")
    DedupIndex.write(spark, docs, d)
    val fs = graft.wri.WriFs.fs(d, spark.sparkContext.hadoopConfiguration)
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    // fabricate the one-rename-narrower crash: Commit.replace created
    // the witness's tmp but died before the rename — the tmp is the
    // ONLY durable trace the delete was ever issued
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/deletes/batch=0"), true)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$d/deletes/_landing_0"),
      new org.apache.hadoop.fs.Path(s"$d/deletes/_landing_0.tmp")))
    DedupIndex.delete(spark, d,
      docs.filter($"doc_id" % 11 === 5).select($"doc_id"), batchId = 1L)
    DedupIndex.compact(spark, d)
    // the replay must LAND (the tmp rebuts the fold's coverage), not
    // no-op — pre-fix, deleteLanded probed only the marker and the
    // takedown would be lost forever here
    DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
    assert(new java.io.File(s"$d/deletes/batch=0/_SUCCESS").exists(),
      "replay rebutted only by the tmp witness was swallowed")
    DedupIndex.compact(spark, d)
    assert(!new java.io.File(s"$d/deletes/_landing_0.tmp").exists(),
      "gcRetired left the spent tmp witness behind")
    val twinDir = tmp("didx_del_tmpw_twin")
    DedupIndex.write(spark,
      docs.filter($"doc_id" % 7 =!= 3 && $"doc_id" % 11 =!= 5), twinDir)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) ==
      pairSet(DedupIndex.queryPairs(spark, twinDir, batch)),
      "replayed takedown did not mask")
  }

  test("the standing takedown guard blocks a doc_id re-delivered AFTER " +
      "the covering compact (which a tombstone by contract cannot)") {
    val redelivery = docs.filter($"doc_id" % 7 === 3 ||
      $"doc_id" % 7 === 4)
    val probe = redelivery
      .select($"doc_id" + 900000L as "doc_id", $"text")
    def takedownWorld(guard: Option[DataFrame]): Set[(Long, Long, Double)] = {
      val d = tmp("didx_guard")
      DedupIndex.write(spark, docs, d)
      DedupIndex.delete(spark, d, takedownIds, batchId = 0L)
      DedupIndex.compact(spark, d) // tombstone applied and GC'd
      DedupIndex.append(spark, d, redelivery, batchId = 1L,
        takedownIds = guard)
      pairSet(DedupIndex.queryPairs(spark, d, probe))
    }
    // WITHOUT the guard the re-delivered ids index and serve — the
    // documented tombstone contract
    val unguarded = takedownWorld(None)
    assert(unguarded.exists(_._2 % 7 == 3),
      "re-delivery after compact did not serve — the contract moved " +
        "and this spec's premise is stale")
    // WITH the guard the re-delivered taken-down ids never index; the
    // innocent %7==4 docs still do
    val guarded = takedownWorld(Some(takedownIds))
    assert(guarded.forall(_._2 % 7 != 3),
      "standing takedown guard let a blocked doc_id back in")
    assert(guarded == unguarded.filter(_._2 % 7 != 3),
      "the guard disturbed docs outside the takedown list")
    // and a full index REBUILD honors the same guard — the verb that
    // re-materializes the whole corpus is where a compliance pipeline
    // would otherwise silently re-index taken-down documents
    val rebuilt = tmp("didx_guard_rebuild")
    DedupIndex.write(spark, docs, rebuilt, takedownIds = Some(takedownIds))
    val rebuiltPairs = pairSet(DedupIndex.queryPairs(spark, rebuilt, probe))
    assert(rebuiltPairs.nonEmpty && rebuiltPairs.forall(_._2 % 7 != 3),
      "write() rebuild bypassed the standing takedown guard")
  }

  test("a torn _folded marker is classified, not a wedge: serving verbs " +
      "recover without writing, compact heals it in place (tmp kept), " +
      "and an unrecoverable marker refuses loudly") {
    val d = tmp("didx_torn_marker")
    DedupIndex.write(spark, docs.filter($"doc_id" % 2 === 0), d)
    DedupIndex.ingest(spark, d, docs.filter($"doc_id" % 2 === 1),
      batchId = 1L)
    DedupIndex.compact(spark, d)
    val baseline = pairSet(DedupIndex.queryPairs(spark, d, batch))
    val markerPath = java.nio.file.Paths.get(s"$d/_folded")
    val intact = java.nio.file.Files.readString(markerPath)
    val torn = intact.stripSuffix("\n").stripSuffix("#") // sentinel gone
    def fabricateTorn(withTmp: Boolean): Unit = {
      java.nio.file.Files.writeString(markerPath, torn)
      val tmpPath = java.nio.file.Paths.get(s"$d/_folded.tmp")
      if (withTmp) java.nio.file.Files.writeString(tmpPath, intact)
      else java.nio.file.Files.deleteIfExists(tmpPath)
    }
    // recoverable (the PUT-fallback crash shape: complete sibling tmp):
    // BOTH query modes serve the recovered fold and write NOTHING — a
    // serving-verb rewrite could race a concurrent compact's fresh
    // marker and clobber it with the recovered old content
    fabricateTorn(withTmp = true)
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch,
      readOnly = true)) == baseline)
    assert(java.nio.file.Files.readString(markerPath) == torn,
      "read-only query wrote to the store")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == baseline)
    assert(java.nio.file.Files.readString(markerPath) == torn,
      "a serving verb rewrote the fold marker (compact's job)")
    // compact — the single maintenance process — heals it in place,
    // via the tmp-preserving direct write (a crash mid-heal must leave
    // the recovery copy intact, not downgrade the store to Lost)
    DedupIndex.compact(spark, d)
    assert(java.nio.file.Files.readString(markerPath) == intact,
      "compact did not heal the torn marker")
    assert(pairSet(DedupIndex.queryPairs(spark, d, batch)) == baseline)
    // unrecoverable (no complete tmp): both modes refuse loudly
    fabricateTorn(withTmp = false)
    intercept[IllegalStateException] {
      DedupIndex.queryPairs(spark, d, batch, readOnly = true)
    }
    intercept[IllegalStateException] {
      DedupIndex.queryPairs(spark, d, batch)
    }
    // restore so later suites touching this dir stay healthy
    java.nio.file.Files.writeString(markerPath, intact)
  }

  test("validate: a clean store checks out, a tombstoned store still " +
      "checks out against the FULL corpus (both sides masked), and " +
      "lost or duplicated data flags as error-as-data rows") {
    def checks(d: String, corpus: org.apache.spark.sql.DataFrame) =
      DedupIndex.validate(spark, d, corpus).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toMap
    // clean
    val clean = checks(fullIndexDir, docs)
    assert(clean.values.forall(_._3), s"clean store flagged: $clean")
    assert(clean("postings")._1 == clean("signatures")._1 * 16,
      "posting/signature ratio drifted from numBands")
    // a masked store validates clean against the UNFILTERED corpus —
    // the tombstoned docs are as-if never indexed on both sides
    val dDel = tmp("didx_val_del")
    DedupIndex.write(spark, docs, dDel)
    DedupIndex.delete(spark, dDel, takedownIds, batchId = 0L)
    assert(checks(dDel, docs).values.forall(_._3),
      "tombstone-masked store flagged against the full corpus")
    // lost data: a sigs shard directory disappears -> signatures flag
    val dLost = tmp("didx_val_lost")
    DedupIndex.write(spark, docs, dLost)
    val shard = new java.io.File(s"$dLost/sigs/batch=0").listFiles()
      .filter(_.getName.startsWith("idp=")).head
    graft.wri.WriFs.fs(dLost, spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(shard.getPath), true)
    val lost = checks(dLost, docs)
    assert(!lost("signatures")._3 &&
      lost("signatures")._1 < lost("signatures")._2,
      s"lost sigs shard not flagged: $lost")
    // duplicated ingest (same doc_ids twice — out of contract upstream,
    // visible here): stored > expected, both components flag
    val dDup = tmp("didx_val_dup")
    DedupIndex.write(spark, docs, dDup)
    DedupIndex.append(spark, dDup, docs.filter($"doc_id" % 2 === 0),
      batchId = 1L)
    val dup = checks(dDup, docs)
    assert(!dup("signatures")._3 && !dup("postings")._3 &&
      dup("signatures")._1 > dup("signatures")._2,
      s"duplicated ingest not flagged: $dup")
    // drift that PRESERVES counts — every sig value bumped in place,
    // same rows, same sizes: the count rows stay green and only the
    // CONTENT checksum catches it (the gap a count-only sweep leaves)
    val dChk = tmp("didx_val_chk")
    DedupIndex.write(spark, docs, dChk)
    val fsChk = graft.wri.WriFs.fs(dChk,
      spark.sparkContext.hadoopConfiguration)
    val rewritten = tmp("didx_val_chk_rw")
    spark.read.parquet(s"$dChk/sigs/batch=0")
      .select($"doc_id",
        transform($"sig", v => (v + 1L) % 1000000007L).as("sig"))
      .write.mode("overwrite").parquet(rewritten)
    fsChk.delete(new org.apache.hadoop.fs.Path(s"$dChk/sigs/batch=0"), true)
    assert(fsChk.rename(new org.apache.hadoop.fs.Path(rewritten),
      new org.apache.hadoop.fs.Path(s"$dChk/sigs/batch=0")))
    val chk = checks(dChk, docs)
    assert(chk("signatures")._3,
      "the count row should stay green — the surgery preserved counts")
    assert(!chk("signatures_checksum")._3,
      s"corrupted sig content under an intact count was not flagged: $chk")
    assert(chk("postings")._3 && chk("postings_checksum")._3,
      "the untouched postings component was flagged")
  }

  test("the PERSISTED takedown registry blocks ingest with NO caller " +
      "argument, survives a full rebuild, and re-registers " +
      "idempotently") {
    val d = tmp("didx_registry")
    DedupIndex.write(spark, docs, d)
    val ids1 = Takedown.register(spark, d, takedownIds, "doc_id")
    assert(Takedown.register(spark, d, takedownIds, "doc_id") == ids1,
      "re-registering the same ids changed the registry")
    // the compliance gap the registry closes: an append that FORGOT
    // the takedownIds argument must still block registered ids
    DedupIndex.append(spark, d,
      docs.filter($"doc_id" % 7 === 3 || $"doc_id" % 7 === 0),
      batchId = 1L)
    val landed = spark.read.parquet(s"$d/sigs/batch=1")
    assert(landed.filter($"doc_id" % 7 === 3).isEmpty,
      "the persisted registry did not block a registered doc_id")
    assert(!landed.filter($"doc_id" % 7 === 0).isEmpty,
      "the registry blocked innocent batch rows")
    // full rebuild with no caller list: write() clears the store but
    // carries the registry across — the rebuild must not re-index.
    // Carried by never touching the file (no delete-then-rewrite crash
    // window): same mtime, same bytes after the rebuild.
    val regFile = new java.io.File(s"$d/_takedowns")
    val (mtime0, len0) = (regFile.lastModified(), regFile.length())
    DedupIndex.write(spark, docs, d)
    assert(regFile.lastModified() == mtime0 && regFile.length() == len0,
      "write() rewrote the _takedowns registry — a crash between a " +
        "delete and a rewrite would silently lose it")
    assert(spark.read.parquet(s"$d/sigs/batch=0")
      .filter($"doc_id" % 7 === 3).isEmpty,
      "write() rebuild re-admitted a REGISTERED doc_id")
    // the appeal-granted path: unregister lifts the block, and ONLY
    // the block — nothing already dropped resurrects by itself
    assert(Takedown.unregister(spark, d, takedownIds, "doc_id").isEmpty)
    DedupIndex.append(spark, d,
      docs.filter($"doc_id" % 7 === 3), batchId = 2L)
    assert(!spark.read.parquet(s"$d/sigs/batch=2")
      .filter($"doc_id" % 7 === 3).isEmpty,
      "unregistered doc_ids were still blocked from ingest")
  }
}
