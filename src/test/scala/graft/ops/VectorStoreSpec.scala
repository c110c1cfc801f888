package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("vecstore_spec").toString
    VectorStore.write(spark, emb, d)
    d
  }
  private def queryVec: Array[Float] =
    emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()

  test("disk store query is bit-identical to the in-memory ivfPqTopK") {
    val disk = VectorStore.queryTopK(spark, dir, queryVec, k = 10,
        nprobe = 2, excludeVecId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = Pq.ivfPqTopK(emb, queryVecId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(disk == mem,
      s"disk path drifted from the in-memory composition:\n$disk\nvs\n$mem")
  }

  test("the probe filter prunes at the directory level — unprobed " +
      "cells' files are never opened") {
    val q = VectorStore.queryTopK(spark, dir, queryVec, k = 10, nprobe = 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in:\n$plan")
    // the executed scan's selected files all come from <= nprobe cell dirs
    val files = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
    }.flatten.filter(_.contains("cell="))
    val cellsTouched = files.map(_.split("cell=")(1).split("/")(0)).distinct
    assert(files.nonEmpty && cellsTouched.size <= 2,
      s"scan touched ${cellsTouched.size} cell dirs: $cellsTouched")
  }

  test("stored codes are m small ints; store metadata round-trips") {
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == emb.count())
    val row = codes.select($"codes").head().getSeq[Int](0)
    assert(row.length == 8 && row.forall(c => c >= 0 && c < 16))
    assert(spark.read.parquet(s"$dir/centroids").count() == 8)
    assert(spark.read.parquet(s"$dir/codebooks").count() == 8L * 16)
  }

  test("append encodes against FROZEN codebooks — appended rows carry " +
      "exactly the codes the original write would have given them") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_app").toString
    // store trained on the full corpus, then the same 20 vectors appended
    // under offset ids: frozen-book encoding must reproduce their codes
    VectorStore.write(spark, emb, d)
    val before = spark.read.parquet(s"$d/codes")
    val n = before.count()
    val re = emb.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    VectorStore.append(spark, d, re)
    val after = spark.read.parquet(s"$d/codes")
    assert(after.count() == n + 20)
    def row(r: org.apache.spark.sql.Row): (List[Int], Int) =
      (r.getSeq[Int](r.fieldIndex("codes")).toList,
        r.getAs[Int]("cell"))
    val orig = after.filter($"vec_id" < 20)
      .collect().map(r => r.getLong(0) -> row(r)).toMap
    after.filter($"vec_id" >= 100000L).collect().foreach { r =>
      assert(row(r) == orig(r.getLong(0) - 100000L),
        s"appended copy of ${r.getLong(0) - 100000L} drifted")
    }
  }

  test("tombstones mask deleted ids from queries; delete replay is a " +
      "no-op; other rankings are untouched") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_del").toString
    VectorStore.write(spark, emb, d)
    val before = VectorStore.queryTopK(spark, d, queryVec, k = 50,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val victims = before.take(3).map(_._1).toSet
    VectorStore.delete(spark, d,
      emb.filter($"vec_id".isInCollection(victims)).select($"vec_id"))
    val after = VectorStore.queryTopK(spark, d, queryVec, k = 50,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(after.forall(r => !victims.contains(r._1)),
      "a tombstoned id leaked into the ranking")
    // survivors keep their scores and relative order exactly
    assert(after.take(10).toSeq ==
      before.filterNot(r => victims.contains(r._1)).take(10).toSeq)
    // replaying the same delete batch adds nothing
    val nDel = spark.read.parquet(s"$d/deletes").count()
    VectorStore.delete(spark, d,
      emb.filter($"vec_id".isInCollection(victims)).select($"vec_id"),
      batchId = Some(1L))
    assert(spark.read.parquet(s"$d/deletes").count() == nDel)
  }

  test("a crashed half-write (directory without _SUCCESS) is NOT " +
      "committed — the replay overwrites it instead of skipping") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_crash")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    // simulate a crash: the batch directory exists with partial junk but
    // no job-commit marker
    val partial = new java.io.File(s"$d/codes/batch=77/cell=0")
    partial.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(partial, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(77L))
    val codes = spark.read.parquet(s"$d/codes")
    assert(codes.count() == emb.count(),
      "replay of an uncommitted batch must rewrite it, not skip it")
    // and now that it IS committed, a second replay adds nothing
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(77L))
    assert(spark.read.parquet(s"$d/codes").count() == emb.count())
  }

  test("batch-mode default ids never enter the streaming id namespace") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_ns").toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    // a committed STREAM batch must not drag the batch-mode default id
    // into the stream pool (where it would shadow a future micro-batch)
    VectorStore.append(spark, d, emb.filter($"vec_id" === 1L),
      batchId = Some(VectorStore.StreamBatchBase))
    VectorStore.append(spark, d, emb.filter($"vec_id" === 3L))
    val batches = Option(new java.io.File(s"$d/codes").list()).get
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
    assert(batches.contains(1L),
      s"default id skipped the batch-mode pool: ${batches.sorted.toSeq}")
    assert(batches.count(_ >= VectorStore.StreamBatchBase) == 1)
  }

  test("compaction folds batches, drops tombstoned rows, and leaves " +
      "query results bit-identical") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_cpt").toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    val before = VectorStore.queryTopK(spark, d, queryVec, k = 20,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    VectorStore.compact(spark, d)
    val after = VectorStore.queryTopK(spark, d, queryVec, k = 20,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "compaction changed query results")
    // physically: one batch level remains, tombstones are gone, and the
    // deleted rows no longer exist anywhere on disk
    val codes = spark.read.parquet(s"$d/codes")
    // partition inference types `batch` from the dir names (int here)
    assert(codes.select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    // the deletes ROOT survives rename-mode compact (a late concurrent
    // tombstone needs a stable root — the captured-only teardown), but
    // every captured tombstone dir is swept
    assert(Option(new java.io.File(s"$d/deletes").listFiles())
      .forall(_.forall(!_.getName.startsWith("batch="))),
      "captured tombstone dirs survived compact")
    assert(codes.filter($"vec_id" % 10 === 3).count() == 0)
    assert(codes.count() ==
      emb.count() - emb.filter($"vec_id" % 10 === 3).count())
    // the ledger keeps folded batch ids committed: replaying the append
    // that compaction folded away must stay a no-op
    val n = codes.count()
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(1L))
    assert(spark.read.parquet(s"$d/codes").count() == n,
      "a folded batch replayed after compaction — ledger failed")
  }

  test("the whole lifecycle runs through scheme-qualified file:// URIs " +
      "(Hadoop FileSystem control plane, not java.io)") {
    // a raw-java.io control plane would treat "file:///x" as the literal
    // relative path "file:/x" and break immediately — green here means
    // every ledger/marker/claim/rename goes through the Path's own
    // FileSystem, the contract that carries the store to hdfs://
    val local = java.nio.file.Files.createTempDirectory("vecstore_uri")
      .toString
    val d = s"file://$local"
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    val before = VectorStore.queryTopK(spark, d, queryVec, k = 10,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(before.nonEmpty && before.forall(_._1 % 10 != 3))
    VectorStore.compact(spark, d)
    val after = VectorStore.queryTopK(spark, d, queryVec, k = 10,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "file:// compaction changed query results")
    // and the twin store on a plain local path agrees bit-for-bit
    val twin = java.nio.file.Files.createTempDirectory("vecstore_uri_t")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), twin)
    VectorStore.append(spark, twin, emb.filter($"vec_id" % 2 === 1))
    VectorStore.delete(spark, twin,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    val twinTop = VectorStore.queryTopK(spark, twin, queryVec, k = 10,
      nprobe = 8, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == twinTop)
  }

  test("two RACING default-id appends land as two distinct committed " +
      "batches — the exclusive-create claim arbitrates the id") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_race")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    val n0 = spark.read.parquet(s"$d/codes").count()
    val aRows = emb.filter($"vec_id" % 4 === 1)
    val bRows = emb.filter($"vec_id" % 4 === 3)
    val na = aRows.count(); val nb = bRows.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val race = Future.sequence(Seq(
      Future(VectorStore.append(spark, d, aRows)),
      Future(VectorStore.append(spark, d, bRows))))
    Await.result(race, 120.seconds)
    assert(spark.read.parquet(s"$d/codes").count() == n0 + na + nb,
      "a racing append shadowed the other's batch id and dropped rows")
    val batches = new java.io.File(s"$d/codes").list()
      .filter(_.startsWith("batch=")).toSeq
    assert(batches.sorted == Seq("batch=0", "batch=1", "batch=2"),
      s"unexpected batch layout: $batches")
  }

  test("a 1-row batch query is bit-identical to the single-query path") {
    val single = VectorStore.queryTopK(spark, dir, queryVec, k = 10,
      nprobe = 2, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = VectorStore.queryTopKBatch(spark, dir,
        emb.filter($"vec_id" === 0L), k = 10, nprobe = 2)
      .orderBy($"knn_rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("approx_d2")))
      .toSeq
    assert(batch == single,
      s"batch path drifted from queryTopK:\n$batch\nvs\n$single")
  }

  test("batch query: every query's rows equal its own single-query run, " +
      "and the shuffle-join regime (broadcastProbes=false) agrees") {
    val queries = emb.filter($"vec_id" % 100 === 0)
    val batch = VectorStore.queryTopKBatch(spark, dir, queries, k = 5,
      nprobe = 2).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("knn_rank"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("approx_d2")))
        .toSeq).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (qid, rows) =>
      val qv = emb.filter($"vec_id" === qid).select($"embedding")
        .as[Array[Float]].head()
      val single = VectorStore.queryTopK(spark, dir, qv, k = 5, nprobe = 2,
        excludeVecId = Some(qid)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == single, s"query $qid drifted in the batch path")
    }
    val shuffled = VectorStore.queryTopKBatch(spark, dir, queries, k = 5,
        nprobe = 2, broadcastProbes = Some(false))
      .orderBy($"query_id", $"knn_rank").collect().toSeq
    val hinted = VectorStore.queryTopKBatch(spark, dir, queries, k = 5,
        nprobe = 2)
      .orderBy($"query_id", $"knn_rank").collect().toSeq
    assert(shuffled == hinted)
  }

  test("the batch-query join regime is AUTO-selected from the probe " +
      "side's measured bytes — exact at the boundary, identical " +
      "results on both sides, and the flag still overrides") {
    val queries = emb.filter($"vec_id".isin(1L, 2L, 3L))
    def run(budget: Option[Long],
        flag: Option[Boolean] = None): (Seq[Any], Boolean) = {
      budget.foreach(b =>
        sys.props("graft.vectorstore.batchBroadcastBytes") = b.toString)
      try {
        val q = VectorStore.queryTopKBatch(spark, dir, queries, k = 5,
          nprobe = 2, broadcastProbes = flag)
        val rows = q.orderBy($"query_id", $"knn_rank").collect().toSeq
        // the salted regime's fingerprint: the _salt key in the plan
        (rows, q.queryExecution.executedPlan.toString.contains("_salt"))
      } finally sys.props -= "graft.vectorstore.batchBroadcastBytes"
    }
    // probe side = 3 queries x nprobe 2 = 6 rows; each row's estimate
    // is m*codebookSize*8 + 64 = 8*16*8 + 64 = 1088 bytes -> 6528
    val (rowsAt, saltedAt) = run(Some(6528L))
    assert(!saltedAt, "a probe side AT the budget must broadcast")
    val (rowsOver, saltedOver) = run(Some(6527L))
    assert(saltedOver,
      "a probe side ONE BYTE over the budget must take the salted " +
        "shuffle — the auto-regime never broadcasts past its budget")
    assert(rowsOver == rowsAt, "the regimes disagree on results")
    // the explicit flag beats the measured budget in both directions
    val (rowsForced, saltedForced) = run(Some(1L), Some(true))
    assert(!saltedForced && rowsForced == rowsAt,
      "broadcastProbes=Some(true) did not override a tiny budget")
  }

  test("batch query scans only the UNION of probed cells, once") {
    val q = VectorStore.queryTopKBatch(spark, dir,
      emb.filter($"vec_id".isin(0L, 1L)), k = 5, nprobe = 2)
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
    val files = scans(q.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray.toSeq
        .map(_.filePath.toString))
      .filter(_.contains("cell="))
    val cellsTouched = files.map(_.split("cell=")(1).split("/")(0)).distinct
    // 2 queries x nprobe=2 -> at most 4 distinct cells opened
    assert(files.nonEmpty && cellsTouched.size <= 4,
      s"scan touched ${cellsTouched.size} cell dirs: $cellsTouched")
  }

  test("the ADC plan literal carries only the PROBED cells — no " +
      "zero-filled tables for cells the filter prunes") {
    // with nprobe=1 of 8 cells the old cells-indexed literal embedded 7
    // zero tables (16 consecutive zeros each); the probe-keyed map must
    // embed exactly one real table
    val plan = VectorStore.queryTopK(spark, dir, queryVec, k = 5,
      nprobe = 1).queryExecution.analyzed.toString
    assert(!plan.contains("0.0, 0.0, 0.0, 0.0"),
      "zero-filled ADC tables for unprobed cells are back in the plan")
  }

  test("retrain recovers recall lost to quantization drift on an " +
      "appended out-of-distribution cluster") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_drift")
      .toString
    VectorStore.write(spark, emb, d)
    // a DRIFTED cluster arrives later: the same vectors shifted far from
    // the training distribution, coded against the frozen books
    val drifted = emb.select(($"vec_id" + 10000L).as("vec_id"),
      transform($"embedding", x => (x + lit(3.0f)).cast("float"))
        .as("embedding"))
    VectorStore.append(spark, d, drifted)
    val corpus = emb.select($"vec_id", $"embedding").unionByName(drifted)
    val all = corpus.as[(Long, Array[Float])].collect()
    val queries = drifted.filter($"vec_id" % 50 === 10L)
    def exactTop(qid: Long, k: Int): Set[Long] = {
      val qv = all.find(_._1 == qid).get._2
      all.iterator.filter(_._1 != qid).map { case (id, v) =>
        var dd = 0.0; var i = 0
        while (i < v.length) {
          val x = v(i).toDouble - qv(i); dd += x * x; i += 1
        }
        (id, dd)
      }.toSeq.sortBy { case (id, dd) => (dd, id) }.take(k)
        .map(_._1).toSet
    }
    def recall(): Double = {
      val got = VectorStore.queryTopKBatch(spark, d, queries, k = 10,
          nprobe = 2).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
      val perQ = got.map { case (qid, ids) =>
        (ids intersect exactTop(qid, 10)).size / 10.0
      }
      perQ.sum / perQ.size
    }
    val before = recall()
    // the corpus doubled, so the retrain also doubles the cell count —
    // the geometry change is part of what retrain exists to deliver
    VectorStore.retrain(spark, d, corpus, cells = 16)
    val after = recall()
    info(f"recall@10 before retrain: $before%.2f, after: $after%.2f")
    // deterministic data + trainers: measured 0.04 -> 0.35; the margin
    // asserts a real recovery, not a tie-break wobble
    assert(after >= before + 0.15,
      f"retrain did not improve drifted recall: $before%.2f -> $after%.2f")
  }

  test("retrain folds the lifecycle: one batch level, tombstoned rows " +
      "gone physically, folded-batch replays stay no-ops") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_rtfold")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    VectorStore.retrain(spark, d, emb)
    val codes = spark.read.parquet(s"$d/codes")
    assert(codes.select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(!new java.io.File(s"$d/deletes").exists())
    assert(codes.filter($"vec_id" % 10 === 3).count() == 0)
    val n = codes.count()
    assert(n == emb.count() - emb.filter($"vec_id" % 10 === 3).count())
    // the append retrain folded away must not replay as new rows
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(1L))
    assert(spark.read.parquet(s"$d/codes").count() == n,
      "a folded batch replayed after retrain — ledger failed")
    // ...and a tombstoned id may re-ingest under a fresh id (tombstones
    // died with the old incarnation)
    VectorStore.append(spark, d, emb.filter($"vec_id" === 3L))
    assert(spark.read.parquet(s"$d/codes").count() == n + 1)
  }

  test("a crash between the retrain marker and the swaps is finished " +
      "by the next touch (heal), serving the NEW incarnation") {
    val dA = java.nio.file.Files.createTempDirectory("vecstore_rtcrash")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), dA)
    val dB = java.nio.file.Files.createTempDirectory("vecstore_rtnew")
      .toString
    VectorStore.write(spark, emb, dB)
    val expect = VectorStore.queryTopK(spark, dB, queryVec, k = 10,
      nprobe = 2, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // simulate the crash window: the new incarnation sits fully staged
    // with the marker down, but no swap has run
    Seq("codes", "centroids", "codebooks").foreach { c =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dB/$c"),
        java.nio.file.Paths.get(s"$dA/${c}_retrain"))
    }
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dA/_retrain_ready"))
    val healed = VectorStore.queryTopK(spark, dA, queryVec, k = 10,
      nprobe = 2, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(healed == expect,
      "heal did not finish the staged retrain swap")
    assert(!new java.io.File(s"$dA/_retrain_ready").exists() &&
      !new java.io.File(s"$dA/codes_retrain").exists())
  }

  test("readOnly queries never heal: a staged-but-unswapped retrain " +
      "serves the OLD incarnation; a mid-swap store refuses loudly") {
    def rmr(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val dA = java.nio.file.Files.createTempDirectory("vecstore_ro").toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), dA)
    def q(readOnly: Boolean) = VectorStore.queryTopK(spark, dA, queryVec,
        k = 10, nprobe = 2, excludeVecId = Some(0L), readOnly = readOnly)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // clean store: readOnly answers exactly like the normal path
    val old = q(readOnly = false)
    assert(q(readOnly = true) == old)
    // fabricate the crashed-retrain window: a NEW incarnation fully
    // staged, marker down, nothing moved (the vecstore_rtcrash shape)
    val dB = java.nio.file.Files.createTempDirectory("vecstore_ro_new")
      .toString
    VectorStore.write(spark, emb, dB)
    val expect = VectorStore.queryTopK(spark, dB, queryVec, k = 10,
      nprobe = 2, excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Seq("codes", "centroids", "codebooks").foreach { c =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dB/$c"),
        java.nio.file.Paths.get(s"$dA/${c}_retrain"))
    }
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dA/_retrain_ready"))
    // readOnly: serves the OLD incarnation and mutates NOTHING
    assert(q(readOnly = true) == old,
      "readOnly query did not serve the intact old incarnation")
    assert(new java.io.File(s"$dA/_retrain_ready").exists() &&
      new java.io.File(s"$dA/codes_retrain").exists(),
      "readOnly query wrote to the store")
    // mid-swap (a crashed heal moved codes but not the rest): readOnly
    // must refuse — serving would mix incarnations
    rmr(s"$dA/codes")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dA/codes_retrain"),
      java.nio.file.Paths.get(s"$dA/codes"))
    intercept[IllegalStateException] { q(readOnly = true) }
    // a read-write query completes the swap and serves the NEW store
    assert(q(readOnly = false) == expect,
      "read-write heal did not finish the mid-swap retrain")
    assert(q(readOnly = true) == expect)
  }

  test("nprobe widening only adds candidates — top-1 from full probe " +
      "is at least as close") {
    val narrow = VectorStore.queryTopK(spark, dir, queryVec, k = 1,
      nprobe = 1, excludeVecId = Some(0L)).collect().head.getDouble(1)
    val wide = VectorStore.queryTopK(spark, dir, queryVec, k = 1,
      nprobe = 8, excludeVecId = Some(0L)).collect().head.getDouble(1)
    assert(wide <= narrow)
  }

  // ---- round 9: pointer-mode swaps, guards, sentinel, claim pruning ----

  private def topk(d: String, k: Int = 20): Seq[(Long, Double)] =
    VectorStore.queryTopK(spark, d, queryVec, k = k, nprobe = 8,
        excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("pointer-mode compact: results bit-identical, no rename — the " +
      "flip is one _current write; every verb resolves the generation") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_ptr").toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    val before = topk(d)
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(topk(d) == before, "pointer-mode compaction changed results")
    // the flip left the folded layout under the generation name; the
    // base-named components are gone (garbage-collected after the flip)
    assert(new java.io.File(s"$d/_current").exists())
    assert(new java.io.File(s"$d/codes@1").exists() &&
      !new java.io.File(s"$d/codes").exists() &&
      !new java.io.File(s"$d/deletes").exists())
    val codes = spark.read.parquet(s"$d/codes@1")
    assert(codes.select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(codes.filter($"vec_id" % 10 === 3).count() == 0)
    // the new generation was BORN with the folded ids ledgered: a
    // replay of the folded append is a no-op
    val n = codes.count()
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(1L))
    assert(spark.read.parquet(s"$d/codes@1").count() == n,
      "a folded batch replayed after the pointer flip — staged ledger " +
        "failed")
    // post-flip verbs resolve the generation: append/delete land under
    // the @1 roots and queries see them
    VectorStore.append(spark, d,
      emb.filter($"vec_id" === 3L)
        .select(($"vec_id" + 20000L).as("vec_id"), $"embedding"))
    assert(spark.read.parquet(s"$d/codes@1").count() == n + 1)
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 7).select($"vec_id"))
    assert(topk(d).forall(_._1 % 10 != 7))
    // a SECOND pointer compact moves to generation 2 cleanly
    val before2 = topk(d)
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(topk(d) == before2)
    assert(new java.io.File(s"$d/codes@2").exists() &&
      !new java.io.File(s"$d/codes@1").exists())
  }

  test("a crash between the first pointer flip and its rmTree sweep " +
      "strands the bare-name layout — the next offline verb collects it") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_gc").toString
    VectorStore.write(spark, emb, d)
    VectorStore.compact(spark, d, pointerSwap = true)
    val before = topk(d)
    // simulate the crash window's leftovers: the pre-flip base layout
    // re-materializes at bare names (dead the moment _current exists)
    new java.io.File(s"$d/codes/batch=0").mkdirs()
    new java.io.File(s"$d/deletes").mkdirs()
    new java.io.File(s"$d/centroids").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/codes.ledger"), "#0\n")
    // serving verbs resolve the generation and ignore the garbage
    assert(topk(d) == before)
    // the next offline pointer-mode verb sweeps the bare names
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(topk(d) == before)
    assert(!new java.io.File(s"$d/codes").exists() &&
      !new java.io.File(s"$d/deletes").exists() &&
      !new java.io.File(s"$d/centroids").exists() &&
      !new java.io.File(s"$d/codes.ledger").exists(),
      "stranded bare-name generation survived the offline sweep")
  }

  test("generation fence: a delete whose landing is IN FLIGHT across a " +
      "pointer flip re-lands into the new generation — the takedown is " +
      "never lost to the flip, whatever the interleaving") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_fence").toString
    VectorStore.write(spark, emb, d)
    VectorStore.compact(spark, d, pointerSwap = true) // serving gen 1
    val victim = topk(d).head._1
    // a delete whose ids evaluation BLOCKS until the gate opens — the
    // landing freezes mid-flight, deterministically (local mode: the
    // task runs in this JVM, so the static gate reaches it)
    VectorStoreSpecGate.gate = new java.util.concurrent.CountDownLatch(1)
    val gated = udf((x: Long) => {
      VectorStoreSpecGate.gate.await(); x
    })
    val slowIds = spark.range(1L)
      .select(gated(lit(victim)).as("vec_id"))
    @volatile var deleteErr: Option[Throwable] = None
    val t = new Thread(() => {
      try VectorStore.delete(spark, d, slowIds, batchId = Some(77L))
      catch { case e: Throwable => deleteErr = Some(e) }
    })
    t.start()
    // wait until the delete resolved generation 1 and STARTED landing
    // (the committer's _temporary appears under the old gen's root)
    val half = new java.io.File(s"$d/deletes@1/batch=77")
    val deadline = System.currentTimeMillis() + 60000
    while (!half.exists() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(half.exists(), "the gated landing never started")
    // the flip happens mid-landing: stage generation 2 exactly as the
    // post-flip-post-sweep instant looks (components copied, sweeps
    // found nothing — batch=77 is uncommitted, invisible to any sweep)
    // and flip _current. The old root is deliberately NOT GC'd here:
    // racing an rmTree against the in-flight write job is the one
    // nondeterminism this spec pins out, and GC is irrelevant to what
    // the fence must prove.
    val fs = graft.wri.WriFs.fs(d, spark.sparkContext.hadoopConfiguration)
    for (c <- Seq("codes", "centroids", "codebooks"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$d/$c@1"), fs,
        new org.apache.hadoop.fs.Path(s"$d/$c@2"), false, fs.getConf)
    graft.wri.WriFs.atomicWriteString(fs,
      new org.apache.hadoop.fs.Path(s"$d/_current"), "2 #\n")
    // release the landing: it commits into the now-DEAD generation —
    // the exact window the two migration sweeps cannot cover
    VectorStoreSpecGate.gate.countDown()
    t.join(120000)
    assert(!t.isAlive, "gated delete never finished")
    assert(deleteErr.isEmpty, s"delete failed: $deleteErr")
    // the fence re-resolved the pointer and re-landed under the SAME
    // explicit id in the serving generation
    assert(new java.io.File(s"$d/deletes@2/batch=77/_SUCCESS").exists(),
      "the fence did not re-land the tombstone into the new generation")
    assert(!topk(d).exists(_._1 == victim),
      "a taken-down vec_id is still served after a mid-landing flip")
    // and a replay of the same micro-batch id is a clean no-op
    VectorStore.delete(spark, d,
      Seq(victim).toDF("vec_id"), batchId = Some(77L))
    assert(!topk(d).exists(_._1 == victim))
  }

  test("semanticDedupBatch flags exact re-ingests against the store, " +
      "passes novel vectors, and both join regimes agree") {
    val batchDf = emb.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 50000L).as("vec_id"), $"embedding")
      .unionByName(emb.filter($"vec_id" % 50 === 13)
        .select(($"vec_id" + 60000L).as("vec_id"),
          transform($"embedding", x => (x + lit(4.0f)).cast("float"))
            .as("embedding")))
    def decisions(bcast: Boolean) =
      VectorStore.semanticDedupBatch(spark, dir, batchDf,
          maxApproxD2 = 100.0, broadcastProbes = Some(bcast))
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), Option(r.get(2)))).toMap
    val a = decisions(true)
    assert(a == decisions(false), "join regimes disagree")
    val (copies, novel) = a.partition(_._1 < 60000L)
    assert(copies.nonEmpty && copies.values.forall(_._1),
      s"an exact re-ingest escaped the dup flag: $copies")
    assert(novel.nonEmpty && novel.values.forall(!_._1),
      s"a novel vector was falsely flagged: $novel")
    // every row came back exactly once
    assert(a.size == batchDf.count())
  }

  test("semanticDedupBatch flags a re-delivery under a STABLE id: the " +
      "stored self is a match, not excluded") {
    // a source with stable ids re-delivers rows the store already holds
    // — under queryTopKBatch's default self-exclusion the stored copy
    // (the true nearest neighbor, at pure quantization error) would be
    // filtered out and the exact duplicate could escape the flag
    val redelivered = emb.filter($"vec_id" % 40 === 0)
      .select($"vec_id", $"embedding")
    val out = VectorStore.semanticDedupBatch(spark, dir, redelivered,
        maxApproxD2 = 100.0)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.get(2)))).toMap
    assert(out.nonEmpty && out.forall { case (id, (dup, near)) =>
      dup && near.contains(id)
    }, s"a stable-id re-delivery escaped the dup flag: ${out.take(5)}")
  }

  test("pointer-mode retrain equals rename-mode retrain bit-for-bit; " +
      "tombstones die with the old incarnation") {
    val dP = java.nio.file.Files.createTempDirectory("vecstore_ptr_rt")
      .toString
    val dR = java.nio.file.Files.createTempDirectory("vecstore_ren_rt")
      .toString
    for (d <- Seq(dP, dR)) {
      VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
      VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
      VectorStore.delete(spark, d,
        emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    }
    VectorStore.retrain(spark, dP, emb, pointerSwap = true)
    VectorStore.retrain(spark, dR, emb)
    assert(topk(dP) == topk(dR),
      "pointer-mode retrain drifted from the rename-mode protocol")
    // folded-batch replay stays a no-op; a tombstoned id may re-ingest
    val n = spark.read.parquet(s"$dP/codes@1").count()
    VectorStore.append(spark, dP, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(1L))
    assert(spark.read.parquet(s"$dP/codes@1").count() == n)
    VectorStore.append(spark, dP, emb.filter($"vec_id" === 3L))
    assert(spark.read.parquet(s"$dP/codes@1").count() == n + 1)
  }

  test("pointer crash windows: an unflipped staged generation is " +
      "invisible and cleaned up; a flipped one serves even before GC") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_ptr_crash")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    val before = topk(d)
    // crash BEFORE the flip: a fully staged next generation sits on
    // disk with no _current — queries must serve the old layout
    val junk = new java.io.File(s"$d/codes@1/batch=0/cell=0")
    junk.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(s"$d/codes@1/_SUCCESS").toPath, Array.empty[Byte])
    assert(topk(d) == before,
      "an unflipped staged generation leaked into queries")
    // the next offline verb garbage-collects it and completes
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(topk(d) == before)
    assert(!new java.io.File(s"$d/codes@1/batch=0/cell=0/junk").exists())
    // crash AFTER the flip, BEFORE GC: plant stale old-generation dirs
    // next to the live one — queries resolve the pointer, not the names
    val stale = new java.io.File(s"$d/codes@9")
    stale.mkdirs()
    assert(topk(d) == before)
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(!stale.exists(), "stale generation survived the GC sweep")
    assert(topk(d) == before)
  }

  test("swap modes compose: pointer compact -> rename retrain -> " +
      "pointer retrain on ONE store, results tracking a rename-only twin") {
    val dA = java.nio.file.Files.createTempDirectory("vecstore_mix")
      .toString
    val dB = java.nio.file.Files.createTempDirectory("vecstore_mix_twin")
      .toString
    for (d <- Seq(dA, dB)) {
      VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
      VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
      VectorStore.delete(spark, d,
        emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    }
    // mixed history on A, rename-only on B — every step must agree
    VectorStore.compact(spark, dA, pointerSwap = true)
    VectorStore.compact(spark, dB)
    assert(topk(dA) == topk(dB), "after compact (pointer vs rename)")
    // rename-mode retrain ON TOP of a pointer generation: staging dirs
    // are base-named, the swap targets the @1 roots
    VectorStore.retrain(spark, dA, emb)
    VectorStore.retrain(spark, dB, emb)
    assert(topk(dA) == topk(dB), "after retrain (rename on pointer store)")
    // further verbs + a pointer retrain keep tracking
    for (d <- Seq(dA, dB)) {
      VectorStore.append(spark, d,
        emb.filter($"vec_id" % 5 === 0)
          .select(($"vec_id" + 30000L).as("vec_id"), $"embedding"))
      VectorStore.delete(spark, d,
        emb.filter($"vec_id" % 10 === 7).select($"vec_id"))
    }
    assert(topk(dA) == topk(dB), "after post-retrain append/delete")
    VectorStore.retrain(spark, dA, emb.unionByName(
      emb.filter($"vec_id" % 5 === 0)
        .select(($"vec_id" + 30000L).as("vec_id"), $"embedding"),
      allowMissingColumns = true), pointerSwap = true)
    VectorStore.retrain(spark, dB, emb.unionByName(
      emb.filter($"vec_id" % 5 === 0)
        .select(($"vec_id" + 30000L).as("vec_id"), $"embedding"),
      allowMissingColumns = true))
    assert(topk(dA) == topk(dB), "after second retrain (pointer vs rename)")
  }

  test("retrain fails LOUDLY when the corpus is missing live vectors — " +
      "a filtered lake table cannot silently shrink the store") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_guard")
      .toString
    VectorStore.write(spark, emb, d)
    val truncated = emb.filter($"vec_id" % 7 =!= 0)
    val e = intercept[IllegalArgumentException] {
      VectorStore.retrain(spark, d, truncated)
    }
    assert(e.getMessage.contains("missing") &&
      e.getMessage.contains("complete embedding corpus"), e.getMessage)
    // the guard composes with tombstones: deleting the missing rows
    // first makes the truncated corpus complete FOR THE LIVE SET
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    VectorStore.retrain(spark, d, truncated)
    assert(spark.read.parquet(s"$d/codes").count() ==
      emb.filter($"vec_id" % 7 =!= 0).count())
  }

  test("a torn ledger (missing sentinel) fails LOUDLY instead of " +
      "parsing a truncated id as committed") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_torn")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 2 === 1))
    VectorStore.compact(spark, d)
    // simulate the torn write the sentinel exists to catch: the ledger
    // ends mid-id with no '#<count>' line
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/codes.ledger"), "1\n12".getBytes)
    val e = intercept[IllegalArgumentException] {
      VectorStore.append(spark, d, emb.filter($"vec_id" === 1L),
        batchId = Some(12L))
    }
    assert(e.getMessage.contains("sentinel"), e.getMessage)
  }

  test("claim markers for committed batches are pruned — the claims " +
      "directory stays bounded on an append-heavy store") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_claims")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 4 === 0), d)
    VectorStore.append(spark, d, emb.filter($"vec_id" % 4 === 1))
    VectorStore.append(spark, d, emb.filter($"vec_id" % 4 === 2))
    // both default-id appends committed; the next claim prunes their
    // now-redundant markers and holds only its own
    VectorStore.append(spark, d, emb.filter($"vec_id" % 4 === 3))
    val claims = new java.io.File(s"$d/codes.claims").list().toSeq
    assert(claims == Seq("3"),
      s"claims directory not pruned to the live claim: $claims")
  }

  test("delete() heals first: a tombstone never lands in an incarnation " +
      "a pending retrain swap is about to destroy") {
    // the ADVICE scenario: retrain crashed after _retrain_ready but
    // before the swaps; a delete() that skipped heal would write its
    // tombstone into the OLD deletes/ directory, which finishRetrain
    // then rmTree's — the delete would be silently undone
    val dA = java.nio.file.Files.createTempDirectory("vecstore_delheal")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), dA)
    val dB = java.nio.file.Files.createTempDirectory("vecstore_delheal_b")
      .toString
    VectorStore.write(spark, emb, dB)
    Seq("codes", "centroids", "codebooks").foreach { c =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dB/$c"),
        java.nio.file.Paths.get(s"$dA/${c}_retrain"))
    }
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dA/_retrain_ready"))
    VectorStore.delete(spark, dA,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    // the swap finished BEFORE the tombstone landed: deleted ids are
    // masked in the new incarnation, not silently resurrected
    assert(topk(dA).forall(_._1 % 10 != 3),
      "tombstone was destroyed by the retrain swap delete() should " +
        "have finished first")
  }

  test("the standing takedown guard blocks a vec_id re-delivered AFTER " +
      "the reclaiming compact, on append AND on a full rebuild") {
    val takedown = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
    val redelivery = emb.filter($"vec_id" % 10 === 3 ||
      $"vec_id" % 10 === 4)
    def world(guard: Option[org.apache.spark.sql.DataFrame])
        : Seq[(Long, Double)] = {
      val d = java.nio.file.Files.createTempDirectory("vecstore_guard")
        .toString
      VectorStore.write(spark, emb, d)
      VectorStore.delete(spark, d, takedown)
      VectorStore.compact(spark, d) // physical drop, tombstones cleared
      VectorStore.append(spark, d, redelivery, batchId = Some(7L),
        takedownIds = guard)
      topk(d, k = 200)
    }
    // without the guard the re-delivered ids serve again — the
    // documented tombstone contract (FINAL only while it stands)
    val unguarded = world(None)
    assert(unguarded.exists(_._1 % 10 == 3),
      "re-delivery after compact did not serve — premise stale")
    // with the guard the taken-down ids never land; %10==4 still does
    val guarded = world(Some(takedown))
    assert(guarded.forall(_._1 % 10 != 3),
      "standing takedown guard let a blocked vec_id back in")
    assert(guarded.exists(_._1 % 10 == 4),
      "the guard blocked innocent re-delivered ids")
    // and the full-rebuild path honors it too
    val d2 = java.nio.file.Files.createTempDirectory("vecstore_guard_rb")
      .toString
    VectorStore.write(spark, emb, d2, takedownIds = Some(takedown))
    assert(topk(d2, k = 200).forall(_._1 % 10 != 3),
      "write() rebuild bypassed the standing takedown guard")
  }

  test("the store can forget its ENTIRE corpus: delete-all masks to " +
      "empty, compact reclaims to a file-less layout that still " +
      "serves (empty, not a crash), and a fresh append revives it") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_forgetall")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.delete(spark, d, emb.select($"vec_id"))
    assert(topk(d, k = 200).isEmpty,
      "an all-tombstoned store served rows")
    VectorStore.compact(spark, d)
    assert(topk(d, k = 200).isEmpty,
      "the fully-reclaimed store did not serve the empty answer")
    assert(VectorStore.queryTopKBatch(spark, d,
        emb.limit(3), k = 5).isEmpty,
      "batch query over the forgotten store did not serve empty")
    // the terminal takedown leaves a LIVE store: fresh ingest revives
    VectorStore.append(spark, d, emb.filter($"vec_id" % 5 === 0),
      batchId = Some(1L))
    val revived = topk(d, k = 200)
    assert(revived.nonEmpty && revived.forall(_._1 % 5 == 0),
      "append onto the forgotten store did not serve")
  }

  test("validate: a tombstoned store checks out against the FULL lake " +
      "(both sides masked); a lost cell directory flags missing rows, " +
      "a duplicate append flags extra rows, and drifted code content " +
      "flags under intact counts") {
    def checks(d: String): Map[Long, (Long, Long, Boolean, String)] =
      VectorStore.validate(spark, d, emb).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getBoolean(4), r.getString(5))).toMap
    val fs = graft.wri.WriFs.fs("/",
      spark.sparkContext.hadoopConfiguration)
    // clean, WITH tombstones: masked on both sides, validates green
    val d = java.nio.file.Files.createTempDirectory("vecstore_val")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    val clean = checks(d)
    assert(clean.nonEmpty && clean.values.forall(_._3),
      s"clean tombstoned store flagged: $clean")
    // lost batch data in ONE cell — the silent-recall-degradation case
    // the sweep exists for: committed batch, one cell's files gone
    val dl = java.nio.file.Files.createTempDirectory("vecstore_val_lost")
      .toString
    VectorStore.write(spark, emb.filter($"vec_id" % 2 === 0), dl)
    VectorStore.append(spark, dl, emb.filter($"vec_id" % 2 === 1),
      batchId = Some(1L))
    val victimCell = new java.io.File(s"$dl/codes/batch=1").listFiles()
      .map(_.getName).filter(_.startsWith("cell=")).sorted.head
      .stripPrefix("cell=").toLong
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dl/codes/batch=1/cell=$victimCell"), true)
    val lost = checks(dl)
    assert(!lost(victimCell)._3 && lost(victimCell)._4 == "missing rows"
        && lost(victimCell)._1 < lost(victimCell)._2,
      s"lost cell dir not flagged: ${lost(victimCell)}")
    assert(lost.filter(_._1 != victimCell).values.forall(_._3),
      "untouched cells were flagged")
    // duplicate append (same vec_ids twice — out of contract upstream,
    // visible here): stored > expected in the affected cells
    val dd = java.nio.file.Files.createTempDirectory("vecstore_val_dup")
      .toString
    VectorStore.write(spark, emb, dd)
    VectorStore.append(spark, dd, emb.filter($"vec_id" % 5 === 0),
      batchId = Some(9L))
    val dup = checks(dd)
    assert(dup.values.exists(v => !v._3 && v._4 == "extra rows" &&
      v._1 > v._2), s"duplicate append not flagged: $dup")
    // drift that PRESERVES counts: every code value bumped in place —
    // the count columns stay equal and only the content checksum
    // catches it (a store quantized against the wrong codebook looks
    // exactly like this)
    val dr = java.nio.file.Files.createTempDirectory("vecstore_val_drift")
      .toString
    VectorStore.write(spark, emb, dr)
    val rw = java.nio.file.Files
      .createTempDirectory("vecstore_val_drift_rw").toString
    spark.read.parquet(s"$dr/codes/batch=0")
      .select($"vec_id", $"cell",
        transform($"codes", c => (c + 1) % 16).as("codes"))
      .write.partitionBy("cell").mode("overwrite").parquet(rw)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dr/codes/batch=0"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(rw),
      new org.apache.hadoop.fs.Path(s"$dr/codes/batch=0")))
    val drift = checks(dr)
    assert(drift.values.forall(v => v._1 == v._2),
      "the surgery was supposed to preserve counts")
    assert(drift.values.forall(v => !v._3 && v._4 == "content drift"),
      s"count-preserving code drift not flagged: $drift")
  }

  test("the PERSISTED takedown registry blocks ingest with NO caller " +
      "argument — append and a full rebuild — and re-registration is " +
      "an idempotent union") {
    val blocked = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
    val d = java.nio.file.Files.createTempDirectory("vecstore_registry")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.delete(spark, d, blocked)
    VectorStore.compact(spark, d) // physical drop, tombstones cleared
    val ids1 = Takedown.register(spark, d, blocked, "vec_id")
    assert(Takedown.register(spark, d, blocked, "vec_id") == ids1,
      "re-registering the same ids changed the registry")
    // the compliance gap the registry closes: an ingest path that
    // FORGOT the takedownIds argument must still block registered ids
    VectorStore.append(spark, d,
      emb.filter($"vec_id" % 10 === 3 || $"vec_id" % 10 === 4),
      batchId = Some(7L))
    val served = topk(d, k = 200)
    assert(served.forall(_._1 % 10 != 3),
      "the persisted registry did not block a re-delivered vec_id")
    assert(served.exists(_._1 % 10 == 4),
      "the registry blocked innocent re-delivered ids")
    // a full rebuild with no caller argument: the registry is the one
    // survivor of write()'s teardown, and it still bites
    VectorStore.write(spark, emb, d)
    assert(topk(d, k = 200).forall(_._1 % 10 != 3),
      "write() rebuild re-admitted a REGISTERED vec_id")
  }

  test("a torn _current pointer is classified, not mis-parsed: readers " +
      "serve the generation recovered from the sibling tmp without " +
      "writing, compact heals it, unrecoverable refuses loudly") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_tornptr")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    VectorStore.compact(spark, d, pointerSwap = true)
    val baseline = topk(d)
    val ptr = java.nio.file.Paths.get(s"$d/_current")
    val intact = java.nio.file.Files.readString(ptr)
    assert(intact.trim.endsWith("#"), "pointer content is not sealed")
    // the dangerous torn shape: a digits-only prefix that a bare-number
    // format would silently parse as a DIFFERENT generation — the
    // sibling tmp (written first by the replace) disambiguates it
    val torn = intact.trim.stripSuffix("#").trim + "9"
    def fabricate(content: String, withTmp: Boolean): Unit = {
      java.nio.file.Files.writeString(ptr, content)
      val tmp = java.nio.file.Paths.get(s"$d/_current.tmp")
      if (withTmp) java.nio.file.Files.writeString(tmp, intact)
      else java.nio.file.Files.deleteIfExists(tmp)
    }
    fabricate(torn, withTmp = true)
    assert(topk(d) == baseline,
      "recovered pointer served a different incarnation")
    assert(java.nio.file.Files.readString(ptr) == torn,
      "a query rewrote the pointer (the offline verbs' job)")
    // compact heals the pointer before doing anything else
    VectorStore.compact(spark, d, pointerSwap = true)
    assert(parseableGen(java.nio.file.Files.readString(ptr)),
      "compact left the pointer unhealed")
    assert(topk(d) == baseline)
    // unrecoverable: non-numeric garbage with no complete tmp — refuse,
    // never guess a generation (a digits-only tear with no tmp is
    // refused the same way — next test)
    fabricate("x#", withTmp = false)
    intercept[IllegalStateException](topk(d))
    java.nio.file.Files.writeString(ptr, intact) // restore
  }

  test("a sealed pointer torn to an all-digit prefix with NO sibling " +
      "tmp is refused when a higher codes@N exists on disk — never " +
      "served as a smaller legacy incarnation") {
    val d = java.nio.file.Files.createTempDirectory("vecstore_digittear")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.compact(spark, d, pointerSwap = true)
    val baseline = topk(d)
    val ptr = java.nio.file.Paths.get(s"$d/_current")
    val intact = java.nio.file.Files.readString(ptr)
    // fabricate the object-store tear: '12 #' direct-PUT torn to '1' —
    // all digits, parses as a (lower) legacy generation, and pointer
    // mode runs precisely on object stores, where no sibling tmp exists
    // to rebut it. The REAL generation's codes@ directory on disk is
    // the independent witness the Lost branch must check.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$d/codes@12"))
    java.nio.file.Files.writeString(ptr, "1")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$d/_current.tmp"))
    intercept[IllegalStateException](topk(d))
    // the offline verb must refuse to RE-SEAL the tear as legacy too —
    // that would make the wrong incarnation durable
    intercept[IllegalStateException](
      VectorStore.compact(spark, d, pointerSwap = true))
    assert(java.nio.file.Files.readString(ptr).trim == "1",
      "compact re-sealed a torn pointer it should have refused")
    // restore: intact pointer serves again
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d/codes@12"))
    java.nio.file.Files.writeString(ptr, intact)
    assert(topk(d) == baseline)
  }

  private def parseableGen(text: String): Boolean =
    text.trim.split(" ").toSeq match {
      case Seq(g, "#") => g.nonEmpty && g.forall(_.isDigit)
      case _ => false
    }

  test("compact does not destroy tombstones it did not capture: the " +
      "rename-mode teardown sweeps only captured dirs, and the pointer-" +
      "mode migration carries late arrivals into the new generation") {
    // rename mode: the deletes root survives compact, so a takedown
    // landing right after (a concurrent delete) has a stable
    // root and keeps masking until the next compact applies it
    val d = java.nio.file.Files.createTempDirectory("vecstore_latets")
      .toString
    VectorStore.write(spark, emb, d)
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 3).select($"vec_id"))
    VectorStore.compact(spark, d)
    VectorStore.delete(spark, d,
      emb.filter($"vec_id" % 10 === 4).select($"vec_id"))
    assert(topk(d, k = 200).forall(r => r._1 % 10 != 3 && r._1 % 10 != 4),
      "a tombstone landed after compact did not mask")
    // the migration helper itself (the window it closes is inherently
    // concurrent, so it is exercised directly): captured dirs stay put,
    // only committed late arrivals copy across, ledger ids without dirs
    // are ignored
    val fs = graft.wri.WriFs.fs(d, spark.sparkContext.hadoopConfiguration)
    val oldRoot = java.nio.file.Files
      .createTempDirectory("vts_old").toString
    val newRoot = java.nio.file.Files
      .createTempDirectory("vts_new").toString
    Seq(1L, 7L).foreach { id =>
      emb.limit(3).select($"vec_id")
        .write.mode("overwrite").parquet(s"$oldRoot/batch=$id")
    }
    VectorStore.migrateLateTombstones(fs, oldRoot, newRoot,
      captured = Set(1L))
    assert(!new java.io.File(s"$newRoot/batch=1").exists(),
      "a captured (already-folded) tombstone was migrated")
    assert(new java.io.File(s"$newRoot/batch=7/_SUCCESS").exists(),
      "the late tombstone was not migrated committed")
    // idempotent: compact runs the migration TWICE (pre-flip, so the
    // new generation masks from its first served instant, and post-flip
    // before GC) — the second pass must skip batches already present;
    // a blind FileUtil.copy into an existing dir would NEST it
    // (batch=7/batch=7) and tear the mask
    VectorStore.migrateLateTombstones(fs, oldRoot, newRoot,
      captured = Set(1L))
    assert(new java.io.File(s"$newRoot/batch=7/_SUCCESS").exists())
    assert(!new java.io.File(s"$newRoot/batch=7/batch=7").exists(),
      "the second migration pass nested the already-copied batch")
  }
}

/** Cross-thread gate for the generation-fence spec: the delete's ids
  * frame blocks in a UDF until the test thread flips the pointer. */
object VectorStoreSpecGate {
  @volatile var gate: java.util.concurrent.CountDownLatch = _
}
