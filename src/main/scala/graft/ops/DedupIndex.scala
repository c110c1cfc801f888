package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Disk-backed MinHash-LSH dedup index — the near-dup twin of
  * [[VectorStore]]: per-document MinHash signatures and band-bucket
  * postings persisted as a QUERYABLE TABLE LAYOUT, so the nightly ingest
  * dedups a new batch against the whole corpus WITHOUT EVER RESCANNING
  * THE CORPUS TEXT.
  *
  * Why this exists: [[Dedup.incrementalNearDups]] already avoids the
  * quadratic all-pairs rerun, but it still reads and re-shingles the full
  * corpus text every night — at 100 TB that scan IS the cost. The index
  * stores what the join actually needs: 16-byte posting rows
  * (bucket, doc_id) and one 64-long signature per document — about
  * three orders of magnitude smaller than the text — written once per
  * batch and never rewritten. A nightly batch then computes ONLY its own
  * signatures and joins the stored postings.
  *
  * Layout under `dir`:
  *   params/            1-row parquet (n, num_hashes, num_bands,
  *                      bucket_shards) — the signature family is FROZEN
  *                      at write time; every later batch must band
  *                      identically or buckets would never collide.
  *   postings/batch=<b>/bbp=<s>/  (bb, doc_id) — bb packs (band, bucket)
  *                      as `band * P + bucket`; bbp = bb mod
  *                      bucket_shards is a real PARTITION COLUMN, so a
  *                      query for a batch's buckets prunes at the
  *                      DIRECTORY level (PartitionFilters — the
  *                      [[VectorStore]] probed-cells discipline).
  *   sigs/batch=<b>/idp=<s>/      (doc_id, sig) — signatures partitioned
  *                      by doc_id mod bucket_shards, so the verify join
  *                      back prunes to the candidates' shards.
  *   deletes/batch=<d>/ (doc_id) tombstones — [[delete]]'s takedown
  *                      verb; committed dirs mask their doc_ids out of every
  *                      query (before candidate generation AND the
  *                      stop-bucket sizing) until [[compact]] physically
  *                      drops the rows and GC's the dirs.
  *   deletes/_landing_<d>  the tombstone's FIRST durable action: a
  *                      [[delete]] that crashes before any parquet lands
  *                      still leaves this probe-able witness, so a later
  *                      compact advancing the pool's coverage past `d`
  *                      can never turn `d`'s replay into a silent no-op
  *                      (the takedown would be lost forever). Removed by
  *                      the GC that retires the applied tombstone.
  *   _folded            [[compact]]'s marker:
  *                      `<foldId> <coveredBatch> <coveredStream>
  *                      <coveredDelete> #` — fold batches (ids >=
  *                      [[FoldBase]]) hold the folded content of every
  *                      BATCH-pool id <= coveredBatch and every
  *                      STREAM-pool id <= coveredStream (coverage is
  *                      tracked PER POOL — a single scalar would let a
  *                      folded stream-pool id mark every smaller
  *                      batch-pool id as ingested and silently swallow
  *                      its data), with every tombstone <= coveredDelete
  *                      already applied; folds are invisible until
  *                      this marker names them. Written atomically
  *                      (replace, not create-overwrite) — a reader sees
  *                      the old or the new marker, never a torn one; a
  *                      filesystem that broke even that contract is
  *                      classified (heal / read-only serve / refuse) by
  *                      [[Commit.read]]'s tmp recovery.
  *
  * Ingest idempotence is COMMIT-based, exactly as the vector store's: a
  * batch id counts as committed only when BOTH its postings and sigs
  * directories carry the parquet job-commit `_SUCCESS` marker; a crashed
  * half-write is invisible to queries and the replay overwrites it.
  * [[ingest]] scores the batch against the batches committed BEFORE it —
  * so a replayed ingest with an explicit batch id returns the SAME pairs
  * as the original run and re-lands the same files (mode overwrite):
  * fully idempotent WITHIN a pool ("id <" means "committed before" only
  * among ids assigned in commit order; a batch-pool ingest interleaved
  * between a stream-pool ingest and its replay is the cross-pool
  * exception). Default-allocated ids take one past the batch pool's
  * high-water mark; concurrent default-id ingests need external
  * serialization (explicit ids do not).
  *
  * Candidate semantics (all replayed by the DuckDB oracle):
  *   - batch docs pair only with INDEXED docs (batch-internal pairs are
  *     never generated — run [[Dedup.minHashCandidatePairs]] inside the
  *     batch if those are wanted; strictly the [[Dedup.incrementalNearDups]]
  *     contract);
  *   - a (band, bucket) whose STORED posting count exceeds
  *     `maxBucketSize` is a stop-bucket and generates nothing (the LSH
  *     hot-key guard, corpus-side counts — degenerate boilerplate
  *     buckets at corpus scale are exactly the keys that would melt one
  *     reducer);
  *   - surviving candidates are scored by signature agreement
  *     (est_jaccard = matching positions / num_hashes) and filtered at
  *     `minEstJaccard`.
  *
  * Scan economics at 100 TB: the postings scan is pruned to the shards
  * the batch's buckets actually touch (a small batch reads a few of the
  * `bucket_shards` directories per committed batch), the signature scan
  * is pruned to the candidates' shards, and the corpus TEXT is never
  * read at all. Every join is a keyed equi-join on bb / doc_id — nothing
  * quadratic, no broadcast of anything corpus-sized. Control-plane
  * metadata (the committed-batch listing + the fold marker) is read ONCE
  * per verb and threaded through — an ingest against hundreds of nightly
  * batch directories costs one listing, not one per helper.
  *
  * FILESYSTEM CONTRACT: control-plane touches (commit probes, batch
  * listing, the params read) resolve the Hadoop [[FileSystem]] from the
  * index path's own scheme — `hdfs://`, `file://`, any registered
  * scheme — like the vector store and the WRI stages.
  */
object DedupIndex {

  private val P = 1000000007L

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    graft.wri.WriFs.fs(path, spark.sparkContext.hadoopConfiguration)

  private def postingsRoot(dir: String) = s"$dir/postings"
  private def sigsRoot(dir: String) = s"$dir/sigs"
  private def deletesRoot(dir: String) = s"$dir/deletes"

  // The store's component shapes are CODE-DEFINED (writers: writeBatch
  // for sigs/postings, landTombstone for deletes, write for params) —
  // stated explicitly at every serving-path read so a query costs zero
  // schema-inference (footer-read) jobs; those were measured as a
  // recurring slice of per-call driver latency across the index
  // queries. Partition columns (bbp/idp) are typed here too, so reads
  // never depend on partition-type inference.
  private val postingsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("bb", LongType),
      StructField("doc_id", LongType), StructField("bbp", LongType),
      StructField("batch", LongType)))
  }
  private val sigsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType)),
      StructField("idp", LongType), StructField("batch", LongType)))
  }
  private val deletesSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType)))
  }
  private val paramsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("n", IntegerType),
      StructField("num_hashes", IntegerType),
      StructField("num_bands", IntegerType),
      StructField("bucket_shards", IntegerType)))
  }

  private def batchCommitted(fs: FileSystem, dir: String, id: Long): Boolean =
    fs.exists(new Path(s"${postingsRoot(dir)}/batch=$id/_SUCCESS")) &&
      fs.exists(new Path(s"${sigsRoot(dir)}/batch=$id/_SUCCESS"))

  /** A committed batch written from an empty frame holds only its
    * `_SUCCESS` marker — no part files, nothing to scan (and nothing
    * Spark could infer a schema from). */
  private def hasData(fs: FileSystem, path: String): Boolean = {
    val p = new Path(path)
    // metadata-only children (_SUCCESS, .crc sidecars on the raw local
    // filesystem) don't count — only real partition dirs / part files do
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Batch ids with a directory under `root` — committed or not. */
  private def listBatchDirs(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
  }

  /** Committed batch ids: both components' `_SUCCESS` present. */
  private def committedBatches(fs: FileSystem, dir: String): Seq[Long] =
    listBatchDirs(fs, postingsRoot(dir))
      .filter(batchCommitted(fs, dir, _))
      .sorted

  /** Explicit ingest ids in `[StreamBatchBase, FoldBase)` form the
    * STREAM pool — the range a producer that numbers its own deliveries
    * (a stream's micro-batch ids, offset by the base) passes to
    * [[ingest]]/[[append]]. Default ids allocate from the BATCH pool
    * only (ids below the base), so the pools never collide — a
    * stream-pool commit does not advance the batch pool's high-water
    * mark (the [[VectorStore]] discipline). */
  val StreamBatchBase = 1000000L

  /** Fold batches ([[compact]]'s output) live ABOVE every normal and
    * stream id: a staged fold is invisible until the `_folded` marker
    * references it, and `id < beforeBatchId` replay filtering never
    * applies to folds (a fold only ever covers ids at or below its
    * marker's per-pool coverage, which is below any replayable id).
    * Explicit ingest ids must stay below this base — [[append]] and
    * [[ingest]] reject ids in the fold range, which [[activeBatches]]
    * would never serve and [[compact]]'s GC would delete. */
  val FoldBase = 2000000000L

  private def isStreamId(b: Long): Boolean =
    b >= StreamBatchBase && b < FoldBase

  /** The `_folded` marker's content: fold `id` holds the folded content
    * of every batch-pool id <= coveredBatch and every stream-pool id <=
    * coveredStream, with every tombstone <= coveredDelete already
    * APPLIED (their doc_ids physically dropped, their tombstone dirs
    * GC'd). Ingest coverage is PER POOL: ids are allocated independently
    * in each pool, so one scalar cannot order them. Tombstone ids have
    * one pool ([[delete]] refuses explicit ids at or above
    * [[StreamBatchBase]]), so one scalar covers them. */
  private final case class Fold(id: Long, coveredBatch: Long,
      coveredStream: Long, coveredDelete: Long) {
    def covers(b: Long): Boolean =
      if (b < StreamBatchBase) b <= coveredBatch
      else if (b < FoldBase) b <= coveredStream
      else false
    def coversDelete(d: Long): Boolean = d <= coveredDelete
  }

  /** One control-plane read per verb: the committed-batch and
    * committed-tombstone listings plus the fold marker, threaded through
    * every helper below. */
  private final case class State(committed: Seq[Long], fold: Option[Fold],
      deletes: Seq[Long])

  private def readState(fs: FileSystem, dir: String,
      readOnly: Boolean = false): State =
    State(committedBatches(fs, dir), foldInfo(fs, dir, readOnly),
      committedDeletes(fs, dir))

  /** Committed tombstone batch ids: the delete dir's own `_SUCCESS`. */
  private def committedDeletes(fs: FileSystem, dir: String): Seq[Long] =
    listBatchDirs(fs, deletesRoot(dir))
      .filter(b =>
        fs.exists(new Path(s"${deletesRoot(dir)}/batch=$b/_SUCCESS")))
      .sorted

  /** Parse a complete `_folded` marker; None = torn or malformed. */
  private def parseFold(text: String): Option[Fold] =
    scala.util.Try(text.trim.split(" ").toSeq match {
      case Seq(f, cb, cs, cd, "#") =>
        Some(Fold(f.toLong, cb.toLong, cs.toLong, cd.toLong))
      case _ => None
    }).toOption.flatten

  /** The `_folded` marker, written LAST by [[compact]] — its write IS
    * the fold's commit. A TORN marker (a filesystem that broke the
    * atomic-replace contract, e.g. a crash inside the create-overwrite
    * fallback) is classified instead of wedging every verb
    * ([[Commit.read]]): when the replace's sibling tmp holds the
    * complete intended content — and it always does on the fallback
    * path, which writes the tmp first — EVERY reader serves the
    * recovered fold view with a WARN (the fold content itself committed
    * before the marker write began, so the recovered view is exactly
    * the commit completing). NO serving verb rewrites the marker: a
    * blind re-replace could race a concurrent compact's fresh commit
    * and clobber the NEWER marker with the recovered old content — the
    * repair belongs to [[compact]] alone, the store's single
    * maintenance process (see [[healFoldMarker]]). With no recoverable
    * tmp, refuse loudly: the old marker was overwritten and its retired
    * inputs may be GC'd, so no consistent coverage can be
    * reconstructed. (`readOnly` names the pure-reader session contract
    * at the [[queryPairs]] surface; on this path both modes already
    * write nothing.) */
  private def foldInfo(fs: FileSystem, dir: String,
      readOnly: Boolean = false): Option[Fold] = {
    val p = new Path(s"$dir/_folded")
    Commit.read(fs, p, t => parseFold(t).isDefined) match {
      case Commit.Absent => None
      case Commit.Intact(t) => parseFold(t)
      case Commit.Recovered(t) =>
        System.err.println(s"WARN graft.DedupIndex: $dir/_folded is " +
          "torn; serving the fold recovered from its sibling tmp " +
          (if (readOnly) "(read-only session cannot heal — run compact " +
            "once)"
          else "(run compact to heal the marker in place)"))
        parseFold(t)
      case Commit.Lost => throw new IllegalStateException(
        s"$dir/_folded is torn and unrecoverable (no complete sibling " +
          "tmp); the fold coverage cannot be reconstructed")
    }
  }

  /** [[compact]]'s first action: repair a Recovered `_folded` marker in
    * place. Safe ONLY here — compact is the store's documented single
    * maintenance process, so no concurrent marker writer exists; and
    * the repair goes through [[Commit.heal]] (a direct main-file write
    * that never touches the sibling tmp, the only durable copy). */
  private def healFoldMarker(fs: FileSystem, dir: String): Unit = {
    val p = new Path(s"$dir/_folded")
    Commit.read(fs, p, t => parseFold(t).isDefined) match {
      case Commit.Recovered(t) => Commit.heal(fs, p, t)
      case _ => ()
    }
  }

  /** The SERVING batch set: with no fold, every committed non-fold
    * batch (a staged, unreferenced fold is invisible); with a fold,
    * the fold itself plus every batch committed past its per-pool
    * coverage. */
  private def activeBatches(st: State): Seq[Long] =
    st.fold match {
      case None => st.committed.filter(_ < FoldBase)
      case Some(f) =>
        st.committed.filter(b => b == f.id || (b < FoldBase && !f.covers(b)))
    }

  /** Next default batch id: one past the BATCH pool's high-water mark —
    * the max of the live batch-pool ids and the fold's batch-pool
    * coverage. Stream-pool ids never advance it (a default append must
    * not land inside the stream pool, where a later explicit-id ingest
    * of that id would see it committed and silently skip its own
    * write), and GC'd folded ids are never reallocated (a
    * reallocation would false-positive the replay no-op check and
    * swallow new data). */
  private def nextBatchId(st: State): Long = {
    val pool = st.committed.filter(_ < StreamBatchBase)
    val covered = st.fold.map(_.coveredBatch).getOrElse(-1L)
    math.max(pool.lastOption.getOrElse(-1L), covered) + 1L
  }

  /** A batch id counts as ingested when its directories committed OR a
    * fold covers it (its directories were GC'd but its content lives in
    * the fold). */
  private def alreadyIngested(st: State, id: Long): Boolean =
    st.committed.contains(id) || st.fold.exists(_.covers(id))

  /** The tombstone's landing witness — see the layout doc. A FILE (not
    * a `batch=` directory), so the batch listings never see it. */
  private def landingMarker(dir: String, id: Long): Path =
    new Path(s"${deletesRoot(dir)}/_landing_$id")

  /** The witness's sibling tmp: on rename-capable filesystems
    * [[Commit.replace]] creates `_landing_<id>.tmp` then renames — a
    * crash BETWEEN the two leaves only the tmp, which is just as much a
    * durable witness that a delete was in flight as the marker itself.
    * [[deleteLanded]] probes it alongside the marker, and [[gcRetired]]
    * sweeps it alongside, or a covering compact would no-op the crashed
    * delete's replay — the lost-takedown scenario the marker closes,
    * recreated one rename narrower. */
  private def landingMarkerTmp(dir: String, id: Long): Path = {
    val m = landingMarker(dir, id)
    new Path(m.getParent, m.getName + ".tmp")
  }

  /** A tombstone id counts as landed when its directory committed OR a
    * fold already applied it (its doc_ids were physically dropped and
    * the tombstone dir GC'd) — so a delete replay stays a no-op across
    * a compact instead of re-masking ids the fold removed. Two witnesses
    * rebut "applied" under a covering fold:
    *  - a directory PRESENT but uncommitted is a crashed half-write
    *    ([[gcRetired]] only sweeps COMMITTED tombstones, so the torn dir
    *    survives the compact) and the replay legitimately overwrites it;
    *  - a `_landing_<id>` marker — or its sibling `.tmp`, the only
    *    durable trace when the marker's own tmp+rename crashed between
    *    create and rename — with NO directory at all is a delete that
    *    crashed before any parquet landed (common on object stores,
    *    where an empty "directory" leaves no object). [[delete]] writes
    *    the marker as its FIRST durable action precisely so this window
    *    is probe-able; without it, a crashed delete(batchId=k) followed
    *    by a compact covering a LATER id would silently no-op k's
    *    replay and lose the takedown forever.
    * (As in the ingest pools, explicit tombstone ids must be issued in
    * increasing order for the coverage scalar to mean "applied".) */
  private def deleteLanded(fs: FileSystem, dir: String, st: State,
      id: Long): Boolean =
    st.deletes.contains(id) ||
      (st.fold.exists(_.coversDelete(id)) &&
        !fs.exists(new Path(s"${deletesRoot(dir)}/batch=$id")) &&
        !fs.exists(landingMarker(dir, id)) &&
        !fs.exists(landingMarkerTmp(dir, id)))

  /** Next default tombstone id: one past the tombstones' high-water
    * mark — live committed ids and the fold's applied coverage, so a
    * GC'd folded id is never reallocated (a reallocation would
    * false-positive the replay no-op check and silently drop a new
    * takedown). */
  private def nextDeleteId(st: State): Long =
    math.max(st.deletes.lastOption.getOrElse(-1L),
      st.fold.map(_.coveredDelete).getOrElse(-1L)) + 1L

  /** Land tombstone `id`: the landing marker FIRST (the durable witness
    * that keeps a crashed delete replayable across covering compacts —
    * see [[deleteLanded]]), then the doc_ids as one parquet directory
    * whose `_SUCCESS` is the commit. */
  private def landTombstone(fs: FileSystem, dir: String, ids: DataFrame,
      id: Long): Unit = {
    Commit.replace(fs, landingMarker(dir, id), s"$id\n")
    ids.select(col("doc_id").cast("long").as("doc_id"))
      .write.mode("overwrite")
      .parquet(s"${deletesRoot(dir)}/batch=$id")
  }

  /** The committed tombstone set as one distinct doc_id frame, or None
    * when no tombstones exist — callers skip the anti-join entirely
    * then, so a delete-free index keeps its exact pre-delete plan. */
  private def deletedDocs(spark: SparkSession, fs: FileSystem,
      dir: String, st: State): Option[DataFrame] = {
    val withData = st.deletes
      .filter(i => hasData(fs, s"${deletesRoot(dir)}/batch=$i"))
    if (withData.isEmpty) None
    else Some(spark.read.option("basePath", deletesRoot(dir))
      .schema(deletesSchema.add(org.apache.spark.sql.types.StructField(
        "batch", org.apache.spark.sql.types.LongType)))
      .parquet(withData.map(i => s"${deletesRoot(dir)}/batch=$i"): _*)
      .select(col("doc_id")).distinct())
  }

  /** Tombstone takedowns — the lifecycle verb that lets the index FORGET
    * a document (license revocation, takedown, a dedup collapse): the
    * doc_ids land as an idempotent `deletes/batch=<id>` directory (the
    * [[VectorStore.delete]] discipline — commit = the parquet
    * `_SUCCESS`) and every query anti-joins them out of the stored
    * postings BEFORE candidate generation AND before the stop-bucket
    * sizing, so a masked doc neither pairs nor counts toward any
    * bucket's size — exactly the result of never having indexed it,
    * and exactly what [[compact]]'s physical drop later makes true on
    * disk (compact must be result-invisible).
    *
    * Tombstone lifetime: while LIVE (committed, not yet folded) it
    * masks every stored row with its doc_id — past ingests and any
    * ingest that lands while it stands. [[compact]] then makes the
    * drop physical and RETIRES the tombstone (dir GC'd, the applied
    * coverage recorded in the `_folded` marker so replays stay
    * no-ops). A doc_id re-delivered AFTER that compact is a NEW
    * document and will serve — a takedown that must also block future
    * re-delivery of the same id needs the ingest-side STANDING guard
    * ([[ingest]]/[[append]]'s `takedownIds` filter), not a tombstone;
    * within one tombstone's lifetime, re-ingest revived content under a
    * fresh doc_id. The serving path never rewrites data files.
    * One crash-window exception to "re-delivered after the compact
    * serves": a compact whose GC crashed mid-sweep can leave a
    * committed tombstone remnant, and its surviving doc_ids stay
    * masked until the NEXT compact re-sweeps it — a re-delivered id
    * may be over-masked in that window, never under-masked.
    *
    * Replaying a landed explicit id — committed, or applied by a fold
    * with no witness left behind — is a no-op; a crashed half-write
    * survives even a covering compact precisely so its replay can land,
    * whether the crash left a torn directory or NO directory at all
    * (the `_landing_<id>` marker is the first durable action here and
    * is what makes the no-dir crash probe-able — see [[deleteLanded]]).
    * Explicit ids must be issued in increasing order (the pools'
    * discipline). Default ids take one past the delete pool's
    * high-water mark; like the other pools, concurrent DEFAULT-id
    * deletes need external serialization (explicit ids do not).
    * Returns the id used. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      batchId: Long = -1L): Long = {
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    if (batchId >= 0) require(batchId < StreamBatchBase,
      s"explicit tombstone ids live in [0, $StreamBatchBase): $batchId")
    val id = if (batchId >= 0) batchId else nextDeleteId(st)
    if (deleteLanded(fs, dir, st, id)) return id
    landTombstone(fs, dir, ids, id)
    id
  }

  /** Frozen signature-family parameters, written once by [[write]]. */
  final case class Params(n: Int, numHashes: Int, numBands: Int,
      bucketShards: Int)

  private def readParams(spark: SparkSession, dir: String): Params = {
    val r = spark.read.schema(paramsSchema).parquet(s"$dir/params").head()
    Params(r.getAs[Int]("n"), r.getAs[Int]("num_hashes"),
      r.getAs[Int]("num_bands"), r.getAs[Int]("bucket_shards"))
  }

  /** (sigs, banded) for a document frame under the index's frozen
    * parameters — the ONE signature kernel every verb shares, identical
    * to [[Dedup.minHashCandidatePairs]]'s family (portable polynomial
    * folds, so the DuckDB oracle replays it). `sigs` is persisted: the
    * banding lambda references the signature column, and without the
    * materialization barrier CollapseProject would inline the whole
    * signature fold per band (numBands x recompute). */
  private def sigAndBand(docs: DataFrame, textCol: String, p: Params)
      : (DataFrame, DataFrame) = {
    val rows = p.numHashes / p.numBands
    val sigs = docs
      .select(col("doc_id"),
        TextAnalysis.hashedNgrams(col(textCol), p.n).as("grams"))
      .filter(size(col("grams")) > 0) // P sentinel sigs never pair
      .select(col("doc_id"),
        Dedup.minHashSignature(col("grams"), p.numHashes).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0L), lit(p.numBands - 1L)),
        b => struct(b.as("band"),
          Dedup.bandBucket(col("sig"), b, rows, 7L, 131L).as("bucket"))))
        .as("bb0"))
      .select(col("doc_id"),
        (col("bb0.band") * lit(P) + col("bb0.bucket")).as("bb"))
    (sigs, banded)
  }

  private def writeBatch(spark: SparkSession, dir: String, id: Long,
      sigs: DataFrame, banded: DataFrame, p: Params): Unit = {
    // sigs first, postings last: committed = BOTH _SUCCESS markers, so
    // a crash between the two writes leaves an uncommitted batch that
    // the replay overwrites (mode overwrite on both).
    sigs.select(col("doc_id"), col("sig"),
        pmod(col("doc_id"), lit(p.bucketShards.toLong)).as("idp"))
      .repartition(col("idp")).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("idp")
      .parquet(s"${sigsRoot(dir)}/batch=$id")
    banded.select(col("bb"), col("doc_id"),
        pmod(col("bb"), lit(p.bucketShards.toLong)).as("bbp"))
      .repartition(col("bbp")).sortWithinPartitions(col("bb"))
      .write.mode("overwrite").partitionBy("bbp")
      .parquet(s"${postingsRoot(dir)}/batch=$id")
  }

  /** Create a fresh index at `dir` from `docs` (batch 0), freezing the
    * signature family. Destroys whatever was at `dir` — EXCEPT the
    * persisted `_takedowns` registry, which is carried across the
    * rebuild on purpose: `takedownIds` (the caller-supplied standing
    * guard) and the registry both apply, because a full REBUILD from
    * the raw corpus is exactly where a compliance pipeline would
    * otherwise silently re-index taken-down documents. The registry is
    * carried by NEVER TOUCHING it: children of `dir` are deleted
    * individually, skipping every `_takedowns*` sibling (the registry,
    * its atomic-replace `.tmp` recovery copy, the writer lock) — the
    * [[VectorStore.write]] discipline. A read-then-delete-all-then-
    * rewrite cycle would open a crash window in which the persisted
    * registry is gone (absent file = empty set) and subsequent ingests
    * silently re-admit blocked ids. */
  def write(spark: SparkSession, docs: DataFrame, dir: String,
      textCol: String = "text", n: Int = 3, numHashes: Int = 64,
      numBands: Int = 16, bucketShards: Int = 64,
      takedownIds: Option[DataFrame] = None): Unit = {
    require(numHashes % numBands == 0,
      s"numHashes=$numHashes must divide into numBands=$numBands")
    val fs = fsOf(spark, dir)
    // validate early — a torn registry refuses the rebuild loudly
    // BEFORE anything is destroyed
    Takedown.registered(fs, dir)
    val root = new Path(dir)
    if (fs.exists(root))
      fs.listStatus(root).foreach { s =>
        if (!s.getPath.getName.startsWith("_takedowns"))
          fs.delete(s.getPath, true)
      }
    val p = Params(n, numHashes, numBands, bucketShards)
    import spark.implicits._
    Seq((n, numHashes, numBands, bucketShards))
      .toDF("n", "num_hashes", "num_bands", "bucket_shards")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
    val (sigs, banded) = sigAndBand(guardTakedowns(fs, dir, docs, takedownIds),
      textCol, p)
    writeBatch(spark, dir, 0L, sigs, banded, p)
    sigs.unpersist()
    ()
  }

  private def requireIngestId(id: Long): Unit =
    require(id < FoldBase,
      s"explicit batch ids must stay below FoldBase=$FoldBase " +
        s"(fold-range directories are never served and the next " +
        s"compact's GC deletes them): $id")

  /** The ingest-side STANDING takedown guard: a tombstone only masks
    * rows stored within its lifetime — a doc_id re-delivered AFTER the
    * compact that applied its tombstone is a NEW document by contract
    * and will index and serve. Blocked docs are dropped BEFORE signing,
    * so they never produce postings, signatures or pairs. Two sources,
    * unioned by [[Takedown.guard]] (the one implementation both stores
    * share): the store's PERSISTED `_takedowns` registry
    * ([[Takedown.register]] — read automatically by every ingest verb,
    * so compliance does not depend on every caller remembering), plus
    * whatever `takedownIds` list the caller still passes. A takedown
    * that must bite immediately on already-stored rows is a
    * [[delete]]. */
  private def guardTakedowns(fs: FileSystem, dir: String,
      batch: DataFrame, takedownIds: Option[DataFrame]): DataFrame =
    Takedown.guard(batch, "doc_id", takedownIds, fs, dir)

  /** Add `batch` under `batchId` (default: one past the batch pool's
    * high-water mark) without querying. Replaying an ingested explicit
    * id — committed or already folded by [[compact]] — is a no-op.
    * `takedownIds` is the standing guard (see [[guardTakedowns]]).
    * Returns the id used. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long = -1L, textCol: String = "text",
      takedownIds: Option[DataFrame] = None): Long = {
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    if (batchId >= 0) requireIngestId(batchId)
    val id = if (batchId >= 0) batchId else nextBatchId(st)
    if (alreadyIngested(st, id)) return id
    val p = readParams(spark, dir)
    val (sigs, banded) = sigAndBand(guardTakedowns(fs, dir, batch, takedownIds),
      textCol, p)
    writeBatch(spark, dir, id, sigs, banded, p)
    sigs.unpersist()
    id
  }

  /** Near-dup pairs of `batch` against the index's committed batches
    * with id < `beforeBatchId` — READ-ONLY: nothing is written.
    * [[ingest]] passes its own batch id here so a REPLAY scores against
    * exactly the index the original run saw, even after later batches
    * commit (batch ids are monotone within a pool: default allocation
    * is the pool's high-water mark + 1, and explicit ids must be
    * assigned in commit order for "id <" to mean "committed before").
    *
    * Output: (batch_doc, index_doc, est_jaccard >= minEstJaccard).
    *
    * `probeCap` bounds the driver-side pruning lists: when the batch
    * touches at most `probeCap` distinct buckets, the postings scan is
    * filtered by an IN-list over (bbp, bb) — the partition column prunes
    * directories, the sorted data column prunes row groups; same for the
    * candidates' signature shards. Bigger batches fall back to keyed
    * equi-joins over the full (still text-free) index scan — the two
    * regimes are result-identical by construction and spec-pinned.
    *
    * Eager contract as [[Dedup.minHashCandidatePairs]]: the default
    * materializes the bounded pair result and releases the batch-sized
    * signature cache; `eager = false` keeps the plan inspectable.
    *
    * `readOnly = true` is the pure-reader session contract (the
    * [[VectorStore.queryTopK]] discipline): a guarantee this call
    * writes NOTHING under any store state. A torn `_folded` marker is
    * classified in both modes — WARN and serve the fold recovered from
    * the replace's sibling tmp, refuse loudly only when genuinely
    * unrecoverable; the marker repair itself belongs to [[compact]],
    * the single maintenance process (see [[foldInfo]]). */
  def queryPairs(spark: SparkSession, dir: String, batch: DataFrame,
      textCol: String = "text", minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 50, probeCap: Int = 4096,
      beforeBatchId: Long = Long.MaxValue, eager: Boolean = true,
      readOnly: Boolean = false): DataFrame = {
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir, readOnly)
    val p = readParams(spark, dir)
    val (bSigs, bBanded) = sigAndBand(batch, textCol, p)
    val out = queryPairsImpl(spark, dir, fs, st, p, bSigs, bBanded,
      minEstJaccard, maxBucketSize, probeCap, beforeBatchId, eager)
    if (eager) bSigs.unpersist()
    out
  }

  /** The scoring core shared by [[queryPairs]] and [[ingest]] (which
    * computes the batch's signatures ONCE and reuses them for the append
    * write). Does not unpersist its inputs;
    * with `eager` the bounded pair result is materialized and the
    * internal candidate cache released. */
  private def queryPairsImpl(spark: SparkSession, dir: String,
      fs: FileSystem, st: State, p: Params,
      bSigs: DataFrame, bBanded0: DataFrame, minEstJaccard: Double,
      maxBucketSize: Int, probeCap: Int, beforeBatchId: Long,
      eager: Boolean): DataFrame = {
    // folds always participate: they cover only ids at or below the
    // marker's per-pool coverage, and replay of folded-era batches is
    // forfeited by compact (documented there) — so for every replayable
    // id the fold is legitimately "committed before"
    val ids = activeBatches(st)
      .filter(b => b >= FoldBase || b < beforeBatchId)
      .filter(i => hasData(fs, s"${postingsRoot(dir)}/batch=$i"))
    if (ids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)]
        .toDF("batch_doc", "index_doc", "est_jaccard")
    }
    val bBanded = bBanded0.persist(StorageLevel.MEMORY_AND_DISK)
    val postings = spark.read.option("basePath", postingsRoot(dir))
      .schema(postingsSchema)
      .parquet(ids.map(i => s"${postingsRoot(dir)}/batch=$i"): _*)
    // ---- probe the postings: pruned IN-list scan while the batch's
    // bucket set is bounded, keyed semi-join past the cap
    val batchBuckets = bBanded.select(col("bb")).distinct()
      .limit(probeCap + 1)
      .collect().map(_.getLong(0))
    val probed =
      if (batchBuckets.length <= probeCap) {
        // floorMod, matching the pmod the write side partitions by —
        // Java % follows the sign and would silently miss negative keys
        val shards = batchBuckets.map(Math.floorMod(_, p.bucketShards.toLong))
          .distinct
        postings
          .filter(col("bbp").isin(shards.toSeq: _*) &&
            col("bb").isin(batchBuckets.toSeq: _*))
      } else postings.join(
        bBanded.select(col("bb"), pmod(col("bb"),
          lit(p.bucketShards.toLong)).as("bbp")).distinct(),
        Seq("bbp", "bb"), "left_semi")
    // tombstone mask BEFORE sizing and candidate generation: a deleted
    // doc must neither pair nor count toward any bucket's stop-bucket
    // size — the exact semantics compact's physical drop later makes
    // true on disk (compact stays result-invisible). Keyed anti-join,
    // skipped entirely when no tombstones exist (plan unchanged).
    val live = deletedDocs(spark, fs, dir, st)
      .fold(probed)(d => probed.join(d, Seq("doc_id"), "left_anti"))
    // stop-bucket guard on STORED posting counts: the filter above keeps
    // every stored row of each matched bucket, so the windowed count IS
    // the bucket's true stored size
    val sized = live
      .withColumn("psz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("bb"))))
      .filter(col("psz") <= maxBucketSize)
      .select(col("bb"), col("doc_id").as("index_doc"))
    val cand0 = bBanded.join(sized, Seq("bb"))
      .select(col("doc_id").as("batch_doc"), col("index_doc"))
      .dropDuplicates("batch_doc", "index_doc")
    // the candidate frame is consumed twice (the bounded id collect below
    // + the scoring join); cache it in the eager mode — the inspectable
    // mode skips the cache so the postings scan stays a plan LEAF (an
    // InMemoryRelation would swallow it) at the cost of recomputing cand
    val cand = if (eager) cand0.persist(StorageLevel.MEMORY_AND_DISK)
      else cand0
    // ---- signature verify: batch sigs are cached above; index sigs
    // read shard-pruned while the candidate set is bounded
    val candIds = cand.select(col("index_doc")).distinct()
      .limit(probeCap + 1)
      .collect().map(_.getLong(0))
    val sigScan = spark.read.option("basePath", sigsRoot(dir))
      .schema(sigsSchema)
      .parquet(ids.map(i => s"${sigsRoot(dir)}/batch=$i"): _*)
    val idxSigs =
      if (candIds.length <= probeCap) {
        val shards = candIds.map(Math.floorMod(_, p.bucketShards.toLong))
          .distinct
        sigScan.filter(col("idp").isin(shards.toSeq: _*) &&
          col("doc_id").isin(candIds.toSeq: _*))
      } else sigScan.join(
        cand.select(col("index_doc").as("doc_id"),
          pmod(col("index_doc"), lit(p.bucketShards.toLong)).as("idp"))
          .distinct(),
        Seq("idp", "doc_id"), "left_semi")
    val scored = cand
      .join(bSigs.select(col("doc_id").as("batch_doc"), col("sig").as("siga")),
        "batch_doc")
      .join(idxSigs.select(col("doc_id").as("index_doc"),
        col("sig").as("sigb")), "index_doc")
      .select(col("batch_doc"), col("index_doc"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          x => x)).cast("double") / p.numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
    if (!eager) scored
    else {
      val out = scored.localCheckpoint(true)
      bBanded.unpersist(); cand.unpersist()
      out
    }
  }

  /** The nightly verb: score `batch` against everything committed BEFORE
    * it (ids < `batchId`), then land its postings/sigs under `batchId`.
    * With an explicit `batchId`, a replay returns the SAME pairs even
    * after later same-pool batches commit — the scored index is exactly
    * the original run's — and re-lands the same files: fully idempotent.
    * One deliberate exception: TOMBSTONES are not replay-scoped — a
    * [[delete]] committed between the original run and the replay masks
    * its docs out of the replayed score too (a takedown outranks replay
    * stability; a consumer that must see the original pairs verbatim
    * persists them).
    * The batch's signatures are computed ONCE and shared by the scoring
    * and the append write. Default ids allocate one past the batch
    * pool's high-water mark and must not be replayed (a replay would
    * land under a fresh id, like the vector store's batch-mode
    * appends). `takedownIds` is the standing guard (see
    * [[guardTakedowns]]): blocked docs are dropped BEFORE signing, so
    * they neither pair nor land. */
  def ingest(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long = -1L, textCol: String = "text",
      minEstJaccard: Double = 0.5, maxBucketSize: Int = 50,
      probeCap: Int = 4096, takedownIds: Option[DataFrame] = None)
      : DataFrame = {
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    if (batchId >= 0) requireIngestId(batchId)
    val id = if (batchId >= 0) batchId else nextBatchId(st)
    val p = readParams(spark, dir)
    val (sigs, banded) = sigAndBand(guardTakedowns(fs, dir, batch, takedownIds),
      textCol, p)
    val pairs = queryPairsImpl(spark, dir, fs, st, p, sigs, banded,
      minEstJaccard, maxBucketSize, probeCap, beforeBatchId = id,
      eager = true)
    if (!alreadyIngested(st, id))
      writeBatch(spark, dir, id, sigs, banded, p)
    sigs.unpersist()
    pairs
  }

  /** The store's QA sweep — [[Assembly.validateShards]]' discipline for
    * the dedup index: recompute the DEFINITIONAL components from the
    * corpus table under the frozen signature family and compare them
    * against the SERVING state, failures as error-as-data rows (one
    * broken component never kills the sweep — the P7 discipline). Each
    * component is checked TWICE: a row count AND an order-independent
    * xor-of-row-hashes CONTENT checksum (the [[Assembly.shardManifest]]
    * discipline — xor never overflows and ignores row order), where the
    * row hash folds the full payload (doc_id plus every sig value /
    * the band key), so drift that preserves counts — a corrupted sig
    * value, a swapped bucket, postings rewritten against the wrong
    * band — still breaks the sweep. What it catches: a lost batch
    * directory, a fold that silently dropped rows, manual surgery
    * drift, duplicate ingests of the same doc_id (out of contract
    * upstream, visible here as stored > expected). Both sides are
    * tombstone-masked — a taken-down doc is as-if never indexed, so a
    * masked store validates clean against the full corpus table.
    *
    * `corpus` must be the same id+text table the store was built from
    * (the lake's source of truth). Scan economics: the stored side is
    * two column-pruned single-aggregate scans over the postings/sigs
    * layouts (count + xor in ONE pass each, never the text); the
    * expected side signs the corpus once — the same cost as one
    * nightly ingest's signature pass.
    *
    * Output: (component, stored, expected, ok), one row per component
    * x {count, checksum}. */
  def validate(spark: SparkSession, dir: String, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, dir)
    val st = readState(fs, dir)
    val p = readParams(spark, dir)
    val ids = activeBatches(st)
      .filter(i => hasData(fs, s"${postingsRoot(dir)}/batch=$i"))
    val dead = deletedDocs(spark, fs, dir, st)
    def mask(scan: DataFrame): DataFrame =
      dead.fold(scan)(d => scan.join(d, Seq("doc_id"), "left_anti"))
    // content row hashes, same fold family as the band bucketing
    // ((a * 131 + v) mod P, seeded 7) so the oracle replays them with
    // the list_reduce it already uses for buckets
    def sigRowHash: Column = aggregate(col("sig"),
      (lit(7L) * 131L + col("doc_id")) % P,
      (a, v) => (a * 131L + v) % P)
    def postRowHash: Column =
      ((lit(7L) * 131L + col("doc_id")) % P * 131L + col("bb")) % P
    // ONE pass per component: count + xor in the same aggregate
    def stats(df: DataFrame, rowHash: Column): (Long, Long) = {
      val r = df.select(rowHash.as("__rh"))
        .agg(count(lit(1)), expr("bit_xor(__rh)")).head
      (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    def maskedStats(root: String, schema: org.apache.spark.sql.types.StructType,
        paths: Seq[String], rowHash: Column, cols: String*): (Long, Long) =
      if (paths.isEmpty) (0L, 0L)
      else stats(
        mask(spark.read.option("basePath", root).schema(schema)
          .parquet(paths: _*)
          .select(cols.map(col): _*)), rowHash)
    val (storedSigs, storedSigsChk) = maskedStats(sigsRoot(dir), sigsSchema,
      ids.filter(i => hasData(fs, s"${sigsRoot(dir)}/batch=$i"))
        .map(i => s"${sigsRoot(dir)}/batch=$i"),
      sigRowHash, "doc_id", "sig")
    val (storedPostings, storedPostingsChk) = maskedStats(
      postingsRoot(dir), postingsSchema,
      ids.map(i => s"${postingsRoot(dir)}/batch=$i"),
      postRowHash, "doc_id", "bb")
    // the definitional expectation: one signature per corpus doc with a
    // non-empty gram set, numBands postings each — masked identically,
    // under the store's own frozen family
    val guarded = mask(corpus)
    val (expSigs, expBanded) = sigAndBand(guarded, textCol, p)
    val (expectedSigs, expectedSigsChk) = stats(expSigs, sigRowHash)
    val (expectedPostings, expectedPostingsChk) =
      stats(expBanded, postRowHash)
    expSigs.unpersist()
    Seq(
      ("postings", storedPostings, expectedPostings,
        storedPostings == expectedPostings),
      ("postings_checksum", storedPostingsChk, expectedPostingsChk,
        storedPostingsChk == expectedPostingsChk),
      ("signatures", storedSigs, expectedSigs,
        storedSigs == expectedSigs),
      ("signatures_checksum", storedSigsChk, expectedSigsChk,
        storedSigsChk == expectedSigsChk))
      .toDF("component", "stored", "expected", "ok")
      .orderBy(col("component"))
  }

  /** GC of everything a fold marker retired — covered normal/stream
    * batches and superseded folds. Sweeps the UNION of directories
    * present under either root, committed or not: a crash between a
    * batch's postings delete and its sigs delete knocks it out of the
    * committed set, and a committed-only sweep would orphan the
    * surviving half forever. */
  private def gcRetired(fs: FileSystem, dir: String, f: Fold,
      deletesApplied: Seq[Long]): Unit = {
    val present = (listBatchDirs(fs, postingsRoot(dir)) ++
      listBatchDirs(fs, sigsRoot(dir))).distinct
    present
      .filter(b => b != f.id && (b >= FoldBase || f.covers(b)))
      .foreach { b =>
        fs.delete(new Path(s"${postingsRoot(dir)}/batch=$b"), true)
        fs.delete(new Path(s"${sigsRoot(dir)}/batch=$b"), true)
      }
    // tombstones the fold APPLIED (doc_ids physically dropped) are
    // spent — the marker's delete coverage keeps their replays
    // no-ops after the dirs are gone. Sweep ONLY ids from the caller's
    // committed-at-capture snapshot, never a fresh filesystem probe: a
    // crashed delete's torn dir must survive the compact (its replay
    // still has to land — see deleteLanded), and that must hold even
    // if the replay COMMITS while this compact runs (a re-probe would
    // see it committed-and-covered and sweep a tombstone the fold
    // never folded). Order inside the sweep: the _landing_ witness
    // FIRST (a crash right after leaves a committed, witness-less dir —
    // replays no-op off the commit, and the next compact re-sweeps it),
    // then data files, then the commit marker LAST: a crash mid-sweep
    // leaves a still-committed remnant the next compact re-sweeps,
    // instead of a torn dir indistinguishable from a never-landed
    // delete. (The delete() docstring documents the remnant's
    // over-masking window.)
    deletesApplied.filter(f.coversDelete).foreach { b =>
      fs.delete(landingMarker(dir, b), false)
      fs.delete(landingMarkerTmp(dir, b), false)
      val p = new Path(s"${deletesRoot(dir)}/batch=$b")
      if (fs.exists(p)) {
        fs.listStatus(p)
          .filter(_.getPath.getName != "_SUCCESS")
          .foreach(s => fs.delete(s.getPath, true))
        fs.delete(new Path(p, "_SUCCESS"), false)
        fs.delete(p, true)
      }
    }
  }

  /** Offline fold: rewrite the SERVING batch set as ONE fold batch and
    * retire the inputs — a year of nightly ingests is hundreds of batch
    * directories whose commit probes and small files tax every query;
    * after compact the index is one folded batch plus whatever arrived
    * since. A compact with NOTHING new since the last fold skips the
    * corpus-sized rewrite entirely (it only re-sweeps retired leftovers
    * — a crashed predecessor's half-deleted directories).
    *
    * Protocol (object-store safe — no renames): the folded postings and
    * signatures land under a FRESH fold id (above [[FoldBase]], so an
    * unreferenced staging is invisible to every reader), then the
    * `_folded` marker — one small file naming the fold id and the
    * PER-POOL coverage (coveredBatch, coveredStream) — commits the
    * swap, then the retired directories are deleted. A crash before the
    * marker leaves invisible staging the next compact overwrites; a
    * crash anywhere in the deletes leaves directories every reader
    * already ignores and the next compact sweeps (the sweep lists raw
    * directories, not committed batches, so even a half-deleted batch
    * is found).
    *
    * Replay forfeiture: ingest replays of batches covered by the marker
    * see only the post-fold index (their "committed before" view was
    * folded away) — run compact when no replays of old batches are
    * pending, the [[VectorStore.compact]] discipline. Result-invisible
    * for every query and every future ingest: spec-pinned. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    healFoldMarker(fs, dir)
    val st = readState(fs, dir)
    val active = activeBatches(st)
      .filter(i => hasData(fs, s"${postingsRoot(dir)}/batch=$i"))
    val unfolded = active.filter(_ < FoldBase)
    if (active.isEmpty || (unfolded.isEmpty && st.deletes.isEmpty)) {
      // nothing new since the last fold AND no pending takedowns: the
      // corpus-sized rewrite would reproduce the existing fold under a
      // fresh id for zero benefit (an empty index additionally has
      // nothing a tombstone could drop — its tombstones already mask
      // nothing and stay until content exists to fold). Tombstone dirs
      // are never swept here — only the path that actually folded them
      // may retire them (a committed tombstone under the old coverage
      // could be a replay that landed after its torn dir survived a
      // prior compact; its content still needs a fold).
      st.fold.foreach(gcRetired(fs, dir, _, Seq.empty))
      return
    }
    val p = readParams(spark, dir)
    val newFold = Fold(
      math.max(FoldBase, st.fold.map(_.id + 1L).getOrElse(FoldBase)),
      math.max(st.fold.map(_.coveredBatch).getOrElse(-1L),
        unfolded.filter(_ < StreamBatchBase).lastOption.getOrElse(-1L)),
      math.max(st.fold.map(_.coveredStream).getOrElse(-1L),
        unfolded.filter(isStreamId).lastOption.getOrElse(-1L)),
      math.max(st.fold.map(_.coveredDelete).getOrElse(-1L),
        st.deletes.lastOption.getOrElse(-1L)))
    // the physical half of the tombstone contract: the fold is written
    // with every tombstoned doc's postings AND signatures dropped —
    // after the marker lands the serving path needs no anti-join for
    // the applied ids, and the bytes are actually gone
    val dead = deletedDocs(spark, fs, dir, st)
    val banded0 = spark.read
      .option("basePath", postingsRoot(dir))
      .parquet(active.map(i => s"${postingsRoot(dir)}/batch=$i"): _*)
      .select(col("doc_id"), col("bb"))
    val sigs0 = spark.read
      .option("basePath", sigsRoot(dir))
      .parquet(active.map(i => s"${sigsRoot(dir)}/batch=$i"): _*)
      .select(col("doc_id"), col("sig"))
    val banded = dead.fold(banded0)(d =>
      banded0.join(d, Seq("doc_id"), "left_anti"))
    val sigs = dead.fold(sigs0)(d =>
      sigs0.join(d, Seq("doc_id"), "left_anti"))
    writeBatch(spark, dir, newFold.id, sigs, banded, p)
    // THE COMMIT: readers switch to the fold the moment this lands.
    // Atomic replace (tmp + overwrite-rename, or a single PUT on object
    // stores): a second compact OVERWRITES the previous fold's marker,
    // and a plain create-overwrite crashing mid-write would leave a
    // torn marker that wedges every verb — with the retired inputs
    // already GC'd, the coverage could not be reconstructed.
    Commit.replace(fs, new Path(s"$dir/_folded"),
      s"${newFold.id} ${newFold.coveredBatch} ${newFold.coveredStream} " +
        s"${newFold.coveredDelete} #\n")
    gcRetired(fs, dir, newFold, st.deletes)
  }
}
