package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE standing-takedown guard shared by the disk-backed stores —
  * and the store-persisted REGISTRY that makes it self-enforcing.
  *
  * A tombstone ([[DedupIndex.delete]] / [[VectorStore.delete]]) is final
  * for rows ALREADY stored, but a compliance pipeline must also block a
  * taken-down id RE-DELIVERED by an upstream source. Until round 12 that
  * guard was caller-supplied only: every ingest verb took an
  * `Option[DataFrame]` of blocked ids, which means compliance depended
  * on every caller remembering to pass it — one forgetful ingest path
  * re-admits a blocked id with no error anywhere. [[register]] persists
  * the blocked ids IN the store (a `#<count>`-sealed `_takedowns` ledger
  * via [[Commit.writeSealedIds]] — atomic replace, torn writes refuse
  * loudly), and every ingest verb of both stores reads it automatically
  * through [[guard]], unioning it with whatever the caller still passes.
  *
  * Freshness: every ingest verb reads the registry at call time. A
  * takedown that must bite immediately on ALREADY-stored rows is still
  * a `delete`.
  *
  * Scale shape: the registry is a compliance list (thousands to low
  * millions), not a corpus — it is a driver-side sealed file by design,
  * capped loudly at [[MaxRegistry]]. The guard embeds small registries
  * as an IN-list (pushed into the scan) and switches to a broadcast
  * anti-join past [[InListCap]] — the probeCap discipline. */
object Takedown {

  /** The registry file under the store root — generation-independent on
    * purpose: it survives [[VectorStore.compact]]/`retrain` pointer
    * flips and both stores' full rebuilds (a rebuild from the raw
    * corpus is exactly where re-admission would otherwise happen). */
  def registryPath(dir: String): Path = new Path(s"$dir/_takedowns")

  /** Above this, an IN-list plan literal stops being the right shape
    * (plan size, codegen limits) and the guard anti-joins instead. */
  private val InListCap = 65536

  /** The registry is a small control-plane file, not a data store —
    * refuse loudly before writing one the sealed-ledger read path would
    * choke on. */
  private val MaxRegistry = 4 * 1024 * 1024

  /** How long a registry mutation waits for the writer lock before
    * refusing loudly. Mutations are a read-union-write over a driver
    * file — milliseconds — so a wait this long means a crashed writer
    * left its lock behind, and the error says what to do about it.
    * (Overridable via system property for the stale-lock spec only.) */
  private def lockWaitMs: Long =
    sys.props.get("graft.takedown.lockWaitMs").map(_.toLong)
      .getOrElse(30000L)

  /** Serialize registry MUTATIONS ([[register]]/[[unregister]]) through
    * a create-exclusive `_takedowns.lock`: each mutation is a
    * read-modify-write over the sealed file, and two unserialized
    * writers (two takedown notices processed in parallel, a register
    * racing an unregister) would silently drop one caller's ids — a
    * compliance hole with no error anywhere. `fs.create(path,
    * overwrite=false)` refuses when the lock exists, so concurrent
    * writers queue; a waiter that outlasts the lock wait throws with
    * remediation instead of proceeding. Crash-while-holding leaves the
    * lock behind and turns every later mutation into a LOUD failure
    * (never a silent drop) until an operator confirms no writer is
    * alive and removes the file — the refuse-loudly trade the stores'
    * other markers make. Readers ([[registered]]/[[guard]]) never
    * lock: they see the last sealed content, which is always complete
    * ([[Commit.writeSealedIds]] replaces atomically).
    *
    * Honesty about scope: exclusive-create is atomic on HDFS; on S3-
    * style object stores (and the local FS) it is check-then-act, so
    * the file lock narrows but does not CLOSE the cross-process window
    * there — same-process writers are fully serialized by the monitor
    * below, and cross-process registry mutation on an object store
    * should additionally follow the stores' single-maintenance-process
    * convention (one compliance job owns register/unregister, the same
    * way one process owns compact/retrain). */
  /** In-JVM serialization underneath the file lock: a local
    * filesystem's create-exclusive is check-then-act (not atomic), so
    * two threads of ONE driver could both "acquire". The monitor closes
    * the in-process race; the lock file covers separate processes with
    * the scope the block above states — atomic on HDFS, check-then-act
    * (narrowed but open window) on object stores and the local FS. */
  private val localMutex =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withRegistryLock[T](fs: FileSystem, dir: String)(
      body: => T): T =
    localMutex.computeIfAbsent(dir, _ => new Object).synchronized {
      lockedMutation(fs, dir)(body)
    }

  private def lockedMutation[T](fs: FileSystem, dir: String)(
      body: => T): T = {
    val lock = new Path(s"$dir/_takedowns.lock")
    fs.mkdirs(lock.getParent)
    val waitMs = lockWaitMs
    val deadline = System.currentTimeMillis() + waitMs
    // only a genuine already-exists refusal means "another writer holds
    // the lock"; any other I/O failure (network blip, permissions) must
    // surface AS ITSELF — a stale-lock remediation message for a
    // transient error would walk an operator into deleting a LIVE
    // writer's lock
    def isHeld(e: java.io.IOException): Boolean = e match {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case _ => fs.exists(lock)
    }
    var held = false
    while (!held) {
      // ownership is decided by CREATE, not close: once create returns,
      // the lock file is ours — a close() that then throws must not
      // leave the loop seeing our own lock as a foreign holder (it
      // would spin to the stale-lock error against itself and orphan
      // the file). Delete what we created and surface the failure as
      // itself.
      try {
        val out = fs.create(lock, false)
        try out.close()
        catch {
          case closeErr: java.io.IOException =>
            try fs.delete(lock, false)
            catch { case e: Exception => closeErr.addSuppressed(e) }
            throw new IllegalStateException(
              s"takedown registry lock $lock was created but its " +
                "close failed — the lock was released; retry the " +
                "mutation", closeErr)
        }
        held = true
      }
      catch {
        case e: java.io.IOException if isHeld(e) =>
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"takedown registry lock $lock still held after " +
                s"${waitMs}ms — another register/unregister is in " +
                "flight, or a crashed writer left the lock behind. " +
                "Confirm no mutation is running, then delete the lock " +
                "file and retry; the sealed registry itself is intact.")
          Thread.sleep(50L)
      }
    }
    try body finally fs.delete(lock, false)
  }

  /** Currently registered ids; absent registry = empty set; a torn
    * registry file refuses loudly ([[Commit.readSealedIds]]). */
  def registered(fs: FileSystem, dir: String): Set[Long] =
    Commit.readSealedIds(fs, registryPath(dir))

  /** Ids are INTEGRAL by contract (every store keys on bigint ids), and
    * EVERY id column that reaches a takedown verb goes through the same
    * refusal: a fractional column compared (or persisted) through bigint
    * truncation silently rewrites the caller's ids — `cast(3.7 as
    * bigint)` is 3, so `register(3.7)` would block id 3 and a double
    * callerIds list would guard the wrong rows. One helper, four call
    * sites ([[register]], [[unregister]], [[guard]]'s batch column and
    * its callerIds arm), so no arm of the comparison can truncate what
    * another arm refuses. */
  private def requireIntegralIds(df: DataFrame, idCol: String,
      what: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType |
           (_: org.apache.spark.sql.types.DecimalType) =>
        throw new IllegalArgumentException(
          s"takedown $what: id column '$idCol' is " +
            s"${df.schema(idCol).dataType.simpleString} — ids are " +
            "integral by contract, and pushing a fractional column " +
            "through bigint truncation would silently rewrite the ids " +
            "(3.7 becomes 3). Cast the column to bigint explicitly " +
            "(deciding the rounding yourself) first.")
      case _ =>
    }

  /** Union `ids` into the store's persisted registry (idempotent —
    * re-registering is a no-op union; the write is an atomic sealed
    * replace). Returns the full registered set. Registration blocks
    * FUTURE ingests only; pair it with the store's `delete` verb for
    * rows already stored ([[execute]] does both). */
  def register(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Set[Long] = {
    import spark.implicits._
    requireIntegralIds(ids, idCol, "register")
    val fs = graft.wri.WriFs.fs(dir, spark.sparkContext.hadoopConfiguration)
    val newIds = ids.select(col(idCol).cast("long")).as[Long]
      .collect().toSet
    withRegistryLock(fs, dir) {
      val all = registered(fs, dir) ++ newIds
      require(all.size <= MaxRegistry,
        s"takedown registry at $dir would hold ${all.size} ids " +
          s"(> $MaxRegistry) — that is corpus-sized, not a compliance " +
          "list; this registry is a driver-side sealed file by design")
      Commit.writeSealedIds(fs, registryPath(dir), all)
      all
    }
  }

  /** Remove ids from the persisted registry — the appeal-granted path:
    * a mistakenly registered id would otherwise be blocked from every
    * ingest verb forever with no sanctioned way back. Set difference +
    * the same atomic sealed replace; idempotent (removing an absent id
    * is a no-op). Unregistering does NOT resurrect anything already
    * tombstoned or purged — re-ingest the content under its id (or a
    * fresh one) after the registry stops blocking it. Returns the
    * remaining registered set. */
  def unregister(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Set[Long] = {
    import spark.implicits._
    requireIntegralIds(ids, idCol, "unregister")
    val fs = graft.wri.WriFs.fs(dir, spark.sparkContext.hadoopConfiguration)
    val gone = ids.select(col(idCol).cast("long")).as[Long]
      .collect().toSet
    withRegistryLock(fs, dir) {
      val rest = registered(fs, dir) -- gone
      Commit.writeSealedIds(fs, registryPath(dir), rest)
      rest
    }
  }

  /** The ingest-side guard both stores apply before any signing or
    * encoding work: drop rows whose id is in the persisted registry or
    * the caller's standing list. All three arms (registry IN-list,
    * registry anti-join, caller-list anti-join) compare through ONE
    * `try_cast(id as bigint)` of the batch column, so a non-bigint id
    * column gets identical semantics everywhere: a value that casts
    * cleanly is compared as a long; null and malformed ids pass through
    * untouched (the anti-join semantics callers already rely on) — and
    * never ADMIT a registered id via a coercion-null through
    * coalesce(..., false), nor crash the ingest under ANSI casting. On
    * the normal bigint column the cast is a no-op and the plan is
    * unchanged. Ids are INTEGRAL by contract (every store keys on
    * bigint ids); a FRACTIONAL id column is REFUSED loudly rather than
    * compared after truncation — `try_cast(3.7 as bigint)` is 3, so a
    * double column would silently BLOCK 3.7 whenever 3 is registered
    * (and admit nothing it should not, but a compliance guard that
    * drops the wrong rows is as broken as one that keeps them). The
    * refusal covers BOTH sides of every comparison — the batch column
    * and the caller-supplied blocked list (and [[register]]/
    * [[unregister]] inputs, via the same helper) — so no arm truncates
    * what another arm refuses. String/integer columns keep their
    * documented semantics.
    *
    * The anti-join arms alias the blocked-id side to a name GENERATED
    * to miss every batch column — a fixed `__takedown_id` would make
    * the join condition ambiguous (AnalysisException) the day a batch
    * legitimately carries a column of that name. */
  def guard(batch: DataFrame, idCol: String,
      callerIds: Option[DataFrame], fs: FileSystem,
      dir: String): DataFrame = {
    requireIntegralIds(batch, idCol, "guard")
    callerIds.foreach(requireIntegralIds(_, idCol, "guard callerIds"))
    val idL = expr(s"try_cast(`$idCol` as bigint)")
    val joinCol = Iterator.from(0).map(i => s"__takedown_id_$i")
      .find(n => !batch.columns.contains(n)).get
    val reg = registered(fs, dir)
    val regGuarded =
      if (reg.isEmpty) batch
      else if (reg.size <= InListCap)
        batch.filter(not(coalesce(idL.isInCollection(reg), lit(false))))
      else {
        val spark = batch.sparkSession
        import spark.implicits._
        batch.join(broadcast(reg.toSeq.toDF(joinCol)),
          idL === col(joinCol), "left_anti")
      }
    callerIds.fold(regGuarded)(t =>
      regGuarded.join(
        t.select(col(idCol).cast("long").as(joinCol)),
        idL === col(joinCol), "left_anti"))
  }

  /** Cross-store compliance DRIFT detector: when takedowns flow through
    * [[execute]] every participating store's persisted registry holds
    * the same standing-blocked set — and an id registered in SOME
    * stores only (a hand takedown that forgot a store, an [[execute]]
    * that died between stores, an unregister applied asymmetrically)
    * is exactly the re-admission risk the registry exists to close:
    * the store missing the id will happily re-ingest it. This audit
    * reads each store's sealed registry (driver-side control files,
    * never data) and reports every (id, store) pair where an id known
    * to ANY store is missing from another. Empty result = aligned.
    * Output: (id, missing_from), one row per gap, ordered. */
  def auditRegistries(spark: SparkSession,
      stores: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    require(stores.nonEmpty, "no stores to audit")
    require(stores.map(_._1).distinct.size == stores.size,
      s"store names must be unique: ${stores.map(_._1)}")
    val conf = spark.sparkContext.hadoopConfiguration
    val sets = stores.map { case (name, dir) =>
      name -> registered(graft.wri.WriFs.fs(dir, conf), dir)
    }
    val union = sets.iterator.flatMap(_._2).toSet
    (for {
      id <- union.toSeq.sorted
      (name, set) <- sets if !set(id)
    } yield (id, name)).toDF("id", "missing_from")
  }

  /** The remediation for [[auditRegistries]] drift: register the UNION
    * of every store's blocked set on EVERY store (idempotent — aligned
    * stores no-op; each write is the usual locked sealed replace).
    * Union, never intersection: a takedown that reached one store was
    * issued — the gap is the stores it missed, and unregistering is
    * the explicit [[unregister]] appeal path, never a side effect of
    * healing. Returns the aligned set. */
  def alignRegistries(spark: SparkSession,
      stores: Seq[(String, String)]): Set[Long] = {
    import spark.implicits._
    require(stores.nonEmpty, "no stores to align")
    val conf = spark.sparkContext.hadoopConfiguration
    val union = stores.iterator.flatMap { case (_, dir) =>
      registered(graft.wri.WriFs.fs(dir, conf), dir)
    }.toSet
    if (union.nonEmpty) {
      val ids = union.toSeq.toDF("id")
      stores.foreach { case (_, dir) => register(spark, dir, ids, "id") }
    }
    union
  }

  /** The training-shard store's coordinates for [[execute]] — directory
    * plus the id/token column names its shards were written with. */
  final case class ShardStore(dir: String, idCol: String,
      tokensCol: String)

  /** The auditor's ONE call — issue a takedown against every
    * disk-backed store the pipeline maintains, instead of a hand
    * choreography that forgets one:
    *
    *  - [[DedupIndex.delete]] + [[VectorStore.delete]]: tombstones mask
    *    the ids from serving immediately; the next compact reclaims.
    *  - [[Assembly.purgeDocs]]: the committed training shards holding
    *    the ids are rewritten with them dropped and the next manifest
    *    version commits — the exported data itself forgets.
    *  - [[register]] on ALL participating stores (unless `standing =
    *    false`) — the two retrieval stores AND the shard store, whose
    *    write/append verbs read the registry too: future re-delivery
    *    by any upstream source is blocked with no caller cooperation
    *    needed in any ingest path.
    *
    * Re-delivery safe end to end: tombstoning the same ids again is a
    * fresh (harmless) tombstone batch, the shard purge and the
    * registration no-op. `ids` is one single-column frame; pass the
    * column name it uses — each store receives it renamed to its own
    * key. Returns one
    * audit table (store, action, n) — `n` is the distinct id count for
    * tombstone/registry actions and the number of document rows
    * physically dropped for the shard purge. */
  def execute(spark: SparkSession, ids: DataFrame, idCol: String,
      dedupIndexDir: Option[String] = None,
      vectorStoreDir: Option[String] = None,
      shardStore: Option[ShardStore] = None,
      standing: Boolean = true): DataFrame = {
    import spark.implicits._
    val distinctIds = ids.select(col(idCol).cast("long").as(idCol))
      .distinct()
    val n = distinctIds.count()
    val audit = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    dedupIndexDir.foreach { d =>
      val docIds = distinctIds.select(col(idCol).as("doc_id"))
      DedupIndex.delete(spark, d, docIds)
      audit += (("dedup_index", "tombstoned", n))
      if (standing) {
        Takedown.register(spark, d, docIds, "doc_id")
        audit += (("dedup_index", "registered", n))
      }
    }
    vectorStoreDir.foreach { d =>
      val vecIds = distinctIds.select(col(idCol).as("vec_id"))
      VectorStore.delete(spark, d, vecIds)
      audit += (("vector_store", "tombstoned", n))
      if (standing) {
        Takedown.register(spark, d, vecIds, "vec_id")
        audit += (("vector_store", "registered", n))
      }
    }
    shardStore.foreach { s =>
      def stored(): Long = Option(Assembly.readManifest(spark, s.dir)
        .agg(sum(col("n_docs"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val before = stored()
      Assembly.purgeDocs(spark, s.dir,
        distinctIds.select(col(idCol).as(s.idCol)), s.idCol, s.tokensCol)
      audit += (("training_shards", "purged", before - stored()))
      if (standing) {
        Takedown.register(spark, s.dir,
          distinctIds.select(col(idCol).as(s.idCol)), s.idCol)
        audit += (("training_shards", "registered", n))
      }
    }
    audit.toSeq.toDF("store", "action", "n")
  }
}
