package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disk-backed IVF-PQ vector store — [[Pq.ivfPqTopK]]'s in-memory
  * composition persisted as a QUERYABLE TABLE LAYOUT: PQ codes written
  * as parquet PARTITIONED BY the coarse cell id, so an ANN query prunes
  * at the DIRECTORY level (PartitionFilters) and the scan never opens
  * the files of unprobed cells. This is the piece that turns the
  * IVF-PQ math into a production vector store: at 100 TB the win is not
  * the ADC arithmetic, it is that a query with nprobe=2 of 8 cells
  * reads 1/4 of the files — the same never-open-the-file economics as
  * [[Layout]]'s clustered writes and the COG range-read path.
  *
  * Layout under `dir`:
  *   codes/batch=<b>/cell=<c>/  (vec_id, codes array<int>) — m bytes of
  *                    PQ code per vector, the only thing a query scans.
  *                    batch 0 is the initial write; appends add whole
  *                    batch directories. Queries filter on cell only,
  *                    and cell stays a partition column, so directory
  *                    pruning is unaffected by the batch level.
  *   codes.ledger     batch ids folded away by [[compact]] — they stay
  *                    "committed" forever so a late replay of an
  *                    already-ingested batch remains a no-op even after
  *                    its directory is gone. Replaced atomically; closed
  *                    by a `#<count>` sentinel line so a torn write is
  *                    detected loudly, never parsed as wrong ids.
  *   codes.claims/    one empty marker per DEFAULT-allocated batch id —
  *                    the create-exclusive claim that keeps two
  *                    concurrent batch appends off the same id. Markers
  *                    whose batch committed are pruned on the next
  *                    claim, so the directory stays bounded.
  *   deletes/batch=<b>/ + deletes.ledger — tombstones, same discipline
  *   centroids/       (cell, centroid array<double>) — coarse cells
  *   codebooks/       (j, code, centroid array<double>) — shared
  *                    residual codebooks (classic IVFADC)
  *   _current         OPTIONAL incarnation pointer: when present, every
  *                    component above resolves to `<name>@<gen>`
  *                    instead of its bare name. Written (atomically,
  *                    one small file) only by pointer-mode
  *                    [[compact]]/[[retrain]] — the object-store-safe
  *                    swap that replaces directory renames.
  *
  * Ingest idempotence is COMMIT-based, not directory-based: a batch id
  * counts as committed only when its directory carries the parquet
  * job-commit `_SUCCESS` marker (or the compaction ledger lists it) — a
  * directory left by a crashed half-write is NOT committed, and the
  * replay overwrites it instead of silently skipping the batch's rows.
  *
  * FILESYSTEM CONTRACT: every control-plane touch (ledger read/write,
  * `_SUCCESS` probes, id claims, crash-heal and swap work) goes through
  * the Hadoop [[FileSystem]] API resolved from the store path's own
  * scheme, so the store runs wherever a 100 TB corpus actually lives —
  * `hdfs://`, `file://`, or any registered scheme. Ledgers and the
  * `_current` pointer are replaced via an overwrite-rename
  * (FileContext) where the filesystem supports it, and by a direct
  * single-file overwrite (an atomic PUT) on object stores. Compact and
  * retrain offer two swap modes: the default rename swap (atomic on
  * HDFS/local — the fast path) and `pointerSwap = true`, which stages
  * the next incarnation under generation-suffixed names and flips the
  * `_current` pointer — no rename at all, safe where rename is
  * copy+delete (s3a). The one remaining object-store caveat is the
  * exclusive-create id claim for DEFAULT-id batch appends/deletes
  * (`create(overwrite=false)` is not atomic on s3a): there, pass
  * explicit batch ids or serialize batch-mode ingest.
  *
  * Everything is deterministic and bit-identical to [[Pq.ivfPqTopK]]
  * with the same parameters: same k-means init/merge order, same
  * residual quantization, same first-min code ties, and doubles/ints
  * round-trip parquet exactly — so the q100 verify-time replay oracle
  * pins the DISK path too (q147). Centroid/codebook tables are
  * vocabulary metadata (cells + m x codebookSize rows): they collect to
  * the driver at query time, the store's only non-scan reads.
  */
object VectorStore {

  /** Explicit ids at or above this base form the STREAM pool — the range
    * a producer that numbers its own deliveries (a stream's micro-batch
    * ids, offset by the base) passes to [[append]]; default ids allocate
    * below the base, so the two pools can never collide and a default
    * append can't shadow a future explicit-id delivery. */
  val StreamBatchBase = 1000000L

  // ---- store plumbing ---------------------------------------------------

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      // control-plane files are small and self-validated (the ledger
      // sentinel); the local ChecksumFileSystem's .crc sidecars only
      // complicate the atomic-replace discipline below, so unwrap to
      // the raw filesystem — HDFS and object stores pass through
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  private def rmTree(fs: FileSystem, path: String): Unit = {
    val p = new Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Replace `path` with `content` ATOMICALLY — scheme-aware: object
    * stores get the direct single-PUT (their rename is copy+delete, the
    * one thing `pointerSwap = true` exists to avoid), everything else a
    * tmp + FileContext overwrite-rename. See
    * [[graft.wri.WriFs.atomicWriteString]]. */
  private def atomicWriteString(fs: FileSystem, path: Path,
      content: String): Unit =
    graft.wri.WriFs.atomicWriteString(fs, path, content)

  // ---- incarnation pointer ----------------------------------------------

  /** Parse a complete `_current` pointer: STRICTLY `<gen> #`. The
    * trailing sentinel is the torn-write witness — a bare number would
    * let a truncated "12" (torn from "123 #") silently parse as
    * generation 12 and serve a DEAD incarnation's leftovers (or refuse
    * on its GC'd directories) with no error anywhere. */
  private def parseGen(text: String): Option[Long] =
    text.trim.split(" ").toSeq match {
      case Seq(g, "#") if g.nonEmpty && g.forall(_.isDigit) =>
        scala.util.Try(g.toLong).toOption
      case _ => None
    }

  /** Generation named by the `_current` pointer; None = the pre-pointer
    * base layout (components at their bare names). A TORN pointer (a
    * store that broke the atomic-PUT contract) is classified like the
    * ledgers and [[DedupIndex]]'s fold marker ([[Commit.read]]): when
    * the replace's sibling tmp holds the complete content, readers
    * serve the recovered generation with a WARN — writing nothing,
    * because a blind re-replace could race a concurrent offline verb's
    * fresh flip ([[healPointer]], called by compact/retrain, is the
    * sanctioned repair). Unrecoverable = refuse loudly: guessing a
    * generation would serve the wrong incarnation silently. */
  private def currentGen(fs: FileSystem, dir: String): Option[Long] = {
    val p = new Path(s"$dir/_current")
    Commit.read(fs, p, t => parseGen(t).isDefined) match {
      case Commit.Absent => None
      case Commit.Intact(t) => parseGen(t)
      case Commit.Recovered(t) =>
        System.err.println(s"WARN graft.VectorStore: $dir/_current is " +
          "torn; serving the generation recovered from its sibling tmp " +
          "(run compact or retrain once to heal the pointer)")
        parseGen(t)
      case Commit.Lost => throw new IllegalStateException(
        s"$dir/_current is torn and unrecoverable (no complete " +
          "sibling tmp); refusing to guess which incarnation serves")
    }
  }

  /** The offline verbs' pointer repair (compact/retrain — the single
    * maintenance process, so no concurrent flip exists): a Recovered
    * pointer is rewritten in place through [[Commit.heal]] (the direct
    * main-file write that never touches the sibling tmp, the only
    * durable copy of the recovered content). A Lost pointer is left as
    * it is; the [[currentGen]] call that follows refuses it. */
  private def healPointer(fs: FileSystem, dir: String): Unit = {
    val p = new Path(s"$dir/_current")
    Commit.read(fs, p, t => parseGen(t).isDefined) match {
      case Commit.Recovered(t) => Commit.heal(fs, p, t)
      case _ => ()
    }
  }

  /** Resolved root of a swappable component under the CURRENT
    * incarnation. Every read and ingest path resolves through this, so
    * a pointer-mode swap flips the whole store with one small atomic
    * write instead of directory renames. */
  private def componentRoot(dir: String, name: String,
      gen: Option[Long]): String =
    gen.fold(s"$dir/$name")(g => s"$dir/$name@$g")

  // The store's component shapes are CODE-DEFINED (writers: the
  // write/ingest paths' partitionBy("batch", "cell") code landing, the
  // tombstone landing, the two coalesce(1) metadata tables) — stated
  // explicitly at every serving-path read so a query costs zero
  // schema-inference (footer-read) jobs. Partition columns are typed
  // here too, so reads never depend on partition-type inference.
  private val codesSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("codes", ArrayType(IntegerType)),
      StructField("batch", LongType), StructField("cell", IntegerType)))
  }
  private val vecDeletesSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("batch", LongType)))
  }
  private val centroidsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("cell", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
  }
  private val codebooksSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("j", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
  }

  /** Remove every pointer-mode generation artifact except `keep`:
    * component directories `<name>@<gen>` and their sidecar
    * ledgers/claims. When `keep` names a LIVE generation (a `_current`
    * pointer exists), the BARE-named components are dead too — the
    * pre-pointer base layout stops being referenced the moment the
    * first flip lands, but a crash between that flip and its rmTree
    * sweep would otherwise strand the entire pre-compact tree forever
    * (nothing else ever deletes bare names except a full [[write]]).
    * Called only from OFFLINE verbs (write / compact / retrain — the
    * single maintenance process), never from serving verbs, so it
    * cannot race an in-flight staging. */
  private def gcGenerations(fs: FileSystem, dir: String,
      keep: Option[Long]): Unit = {
    val rootP = new Path(dir)
    if (!fs.exists(rootP)) return
    val GenName =
      "^(?:codes|centroids|codebooks|deletes)@(\\d+)(?:\\.ledger(?:\\.tmp)?|\\.claims)?$".r
    fs.listStatus(rootP).foreach { st =>
      st.getPath.getName match {
        case GenName(g) if !keep.contains(g.toLong) =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    if (keep.isDefined) {
      Seq("codes", "deletes", "centroids", "codebooks").foreach { n =>
        rmTree(fs, s"$dir/$n")
      }
      Seq("codes", "deletes").foreach { n =>
        rmTree(fs, s"$dir/$n.ledger")
        rmTree(fs, s"$dir/$n.ledger.tmp")
        rmTree(fs, s"$dir/$n.claims")
      }
    }
  }

  // ---- ledgers / claims / commit markers --------------------------------

  private def ledgerOf(root: String) = new Path(s"$root.ledger")

  /** Ledger file format: sorted committed batch ids, one per line,
    * closed by a `#<count>` sentinel line. [[writeLedger]] replaces the
    * file atomically; the sentinel makes a torn write (a filesystem
    * that broke the atomic contract) fail LOUDLY instead of parsing a
    * truncated trailing id as a smaller, wrong id — which would falsely
    * mark that batch committed and silently no-op its legitimate
    * replay. */
  private def readLedger(fs: FileSystem, root: String): Set[Long] =
    Commit.readSealedIds(fs, ledgerOf(root))

  private def writeLedger(fs: FileSystem, root: String,
      ids: Set[Long]): Unit =
    Commit.writeSealedIds(fs, ledgerOf(root), ids)

  /** Replace the ledger with `old ∪ ids` (atomic, see
    * [[atomicWriteString]]). */
  private def extendLedger(fs: FileSystem, root: String,
      ids: Set[Long]): Unit =
    writeLedger(fs, root, readLedger(fs, root) ++ ids)

  /** Batch ids under `root` that are fully committed: their directory
    * carries the `_SUCCESS` job-commit marker, or the compaction ledger
    * records them. A marker-less directory is a crashed half-write and
    * does NOT count. */
  private def committedBatches(fs: FileSystem, root: String): Set[Long] = {
    val rootP = new Path(root)
    val onDisk =
      if (!fs.exists(rootP)) Array.empty[Long]
      else fs.listStatus(rootP).map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .filter(id => fs.exists(new Path(s"$root/batch=$id/_SUCCESS")))
    onDisk.toSet ++ readLedger(fs, root)
  }

  private def nextBatchId(committed: Set[Long]): Long = {
    val pool = committed.filter(id => id > 0L && id < StreamBatchBase)
    if (pool.isEmpty) 1L else pool.max + 1
  }

  /** Exclusive-create claim of the next free DEFAULT batch id, so two
    * concurrent batch-mode appends (or deletes) can never allocate the
    * same id and silently drop one batch as "already committed". The
    * claim marker is `root.claims/<id>`: `createNewFile` is atomic on
    * HDFS/local, the loser of a race sees `false` and moves to the next
    * id. Markers whose batch has since COMMITTED are pruned here (they
    * are redundant with the commit marker from then on) so an
    * append-heavy store's claims directory stays bounded instead of
    * growing — and being listStatus-scanned — forever. A claim whose
    * append crashed pre-commit just burns one integer of the id space. */
  private def claimBatchId(fs: FileSystem, root: String): Long = {
    val claimsDir = new Path(s"$root.claims")
    fs.mkdirs(claimsDir)
    val committed = committedBatches(fs, root)
    val live = fs.listStatus(claimsDir).flatMap { st =>
      scala.util.Try(st.getPath.getName.toLong).toOption match {
        case Some(id) if committed.contains(id) =>
          fs.delete(st.getPath, false); None
        case other => other
      }
    }.filter(id => id > 0L && id < StreamBatchBase).toSet
    var id = nextBatchId(committed ++ live)
    while (!fs.createNewFile(new Path(claimsDir, id.toString))) id += 1
    id
  }

  /** The whole commit model keys on the parquet job-commit `_SUCCESS`
    * marker; an environment that disables it
    * (mapreduce.fileoutputcommitter.marksuccessfuljobs=false) would make
    * every committed batch look like a crashed half-write — silent data
    * loss at the next compact. Fail LOUDLY at ingest instead. */
  private def requireMarker(fs: FileSystem, path: String): Unit =
    require(fs.exists(new Path(s"$path/_SUCCESS")),
      s"no _SUCCESS marker under $path — this store's idempotence " +
        "requires mapreduce.fileoutputcommitter.marksuccessfuljobs=true")

  /** Self-healing for the narrow crash windows of RENAME-mode
    * [[compact]] and [[retrain]]: a completed-but-unswapped replacement
    * is swapped in before anything is served. Race-safe: two concurrent
    * healers both attempting a rename is fine — the loser re-checks
    * that SOMEONE put the component in place before declaring the store
    * broken. Pointer-mode swaps need no healing: the `_current` flip is
    * atomic, and stale staging is garbage-collected by the next offline
    * verb. */
  private def heal(fs: FileSystem, dir: String, gen: Option[Long]): Unit = {
    finishRetrain(fs, dir, gen)
    val codes = new Path(componentRoot(dir, "codes", gen))
    val pending = new Path(s"$dir/codes_compact")
    if (!fs.exists(codes) && fs.exists(pending) &&
        fs.exists(new Path(s"$dir/codes_compact/_SUCCESS"))) {
      val won = fs.rename(pending, codes)
      require(won || fs.exists(codes), s"recovery rename failed for $dir")
    }
  }

  /** The READ-ONLY twin of [[heal]] for pure-reader deployments (an
    * analyst cluster holding read-only credentials must not fail its
    * first query after a crashed retrain — and must never WRITE from a
    * query): classifies pending maintenance instead of completing it.
    *
    *  - Nothing pending → nothing to do (the overwhelmingly common
    *    case; identical to what heal's probes find).
    *  - A crashed RENAME-mode retrain whose swap has not moved anything
    *    yet (`_retrain_ready` present, all three staged components
    *    still in staging, the serving codes root intact) → WARN and
    *    serve the OLD incarnation: it is complete and self-consistent,
    *    merely stale until a read-write verb completes the swap.
    *  - Anything else (a swap that moved SOME components, or a compact
    *    whose codes root is renamed aside) → fail LOUDLY: the store is
    *    mid-flight and serving it read-only could mix incarnations. */
  private def readOnlyHeal(fs: FileSystem, dir: String,
      gen: Option[Long]): Unit = {
    val marker = fs.exists(new Path(s"$dir/_retrain_ready"))
    val codesOk = fs.exists(new Path(componentRoot(dir, "codes", gen)))
    if (!marker && codesOk) return
    val stagingIntact = Seq("codes", "centroids", "codebooks")
      .forall(c => fs.exists(new Path(s"$dir/${c}_retrain")))
    // the pre-swap window only: finishRetrain rmTree's each serving
    // target BEFORE renaming staging in, so "staging intact" alone does
    // not prove the old incarnation is — a crash between a target's
    // rmTree and its rename leaves staging present with that serving
    // root gone (or half-gone). Require every serving root present AND
    // still carrying its parquet job-commit marker (the small
    // centroids/codebooks dirs delete markers-last often enough for
    // this to catch a partial rmTree; a marker that survived a partial
    // delete is the residual risk, and the read-write heal remains the
    // real repair).
    val servingIntact = Seq("codes", "centroids", "codebooks").forall { c =>
      val root = componentRoot(dir, c, gen)
      fs.exists(new Path(root)) &&
        fs.exists(new Path(s"$root/_SUCCESS"))
    }
    if (marker && stagingIntact && servingIntact) {
      System.err.println(s"WARN graft.VectorStore: $dir has a completed " +
        "but unswapped retrain; serving the PREVIOUS incarnation " +
        "(read-only session cannot heal — run any read-write verb once)")
    } else throw new IllegalStateException(
      s"$dir has pending maintenance a read-only session cannot " +
        "complete (a compact/retrain swap is mid-flight); run any " +
        "read-write verb once to heal, then retry")
  }

  /** The swap half of RENAME-mode [[retrain]], idempotent so a crash
    * ANYWHERE inside it re-runs to completion from [[heal]]: once the
    * `_retrain_ready` marker exists, every staged component still
    * present moves into place (components already moved are simply
    * absent from staging), then the dead incarnation's tombstone
    * directories and claims are cleared and the marker is removed LAST.
    * Without the marker the staging directories are invisible and the
    * old incarnation serves untouched. */
  private def finishRetrain(fs: FileSystem, dir: String,
      gen: Option[Long]): Unit = {
    if (!fs.exists(new Path(s"$dir/_retrain_ready"))) return
    Seq("centroids", "codebooks", "codes").foreach { c =>
      val pending = new Path(s"$dir/${c}_retrain")
      val target = componentRoot(dir, c, gen)
      if (fs.exists(pending)) {
        rmTree(fs, target)
        val won = fs.rename(pending, new Path(target))
        require(won || fs.exists(new Path(target)),
          s"retrain swap-in failed for $target")
      }
    }
    rmTree(fs, componentRoot(dir, "deletes", gen))
    rmTree(fs, s"${componentRoot(dir, "codes", gen)}.claims")
    rmTree(fs, s"${componentRoot(dir, "deletes", gen)}.claims")
    rmTree(fs, s"$dir/_retrain_ready")
  }

  /** The paths of every COMMITTED batch directory under `root` — what a
    * query is allowed to scan. Batch 0 (the initial write, whose
    * `_SUCCESS` marker sits at the root itself) is included only when
    * that root marker exists — a crashed initial write or half-landed
    * compacted layout is as uncommitted as any other half-write. */
  private def committedPaths(fs: FileSystem, root: String): Seq[String] = {
    val ids = committedBatches(fs, root)
      .filter(id => fs.exists(new Path(s"$root/batch=$id")))
    val zero =
      if (fs.exists(new Path(s"$root/batch=0")) &&
          fs.exists(new Path(s"$root/_SUCCESS"))) Seq(s"$root/batch=0")
      else Seq.empty
    (zero ++ ids.toSeq.sorted.map(id => s"$root/batch=$id")).distinct
  }

  /** Frozen store metadata: (coarse centroids by cell, codebooks by
    * (subspace, code)) — the one definition every reader shares. */
  private def readMeta(spark: SparkSession, dir: String,
      gen: Option[Long]): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import spark.implicits._
    val coarse: Array[Array[Double]] =
      spark.read.schema(centroidsSchema)
        .parquet(componentRoot(dir, "centroids", gen))
        .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
    val booksFlat =
      spark.read.schema(codebooksSchema)
        .parquet(componentRoot(dir, "codebooks", gen))
        .as[(Int, Int, Seq[Double])].collect()
    require(coarse.nonEmpty && booksFlat.nonEmpty,
      s"$dir does not hold a written store (empty centroids/codebooks)")
    val m = booksFlat.map(_._1).max + 1
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      booksFlat.filter(_._1 == j).sortBy(_._2).map(_._3.toArray)
    }
    (coarse, books)
  }

  /** (vec_id, cell, residual) for every vector — the one assignment
    * kernel [[write]] and [[append]] share, so the two ingest paths can
    * never drift. */
  private def assignResiduals(spark: SparkSession, emb: DataFrame,
      coarse: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val cs = coarse
    emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val c = Similarity.nearestCentroid(v, cs)
        val res = new Array[Float](v.length)
        var i = 0
        while (i < v.length) { res(i) = (v(i) - cs(c)(i)).toFloat; i += 1 }
        (id, c, res)
      }
      .toDF("vec_id", "cell", "embedding")
  }

  // ---- lifecycle verbs --------------------------------------------------

  /** Train coarse cells + residual codebooks over `emb` and write the
    * store under `dir` (overwrite — including every trace of a previous
    * incarnation: tombstones, ledgers, claims, pointer-mode generations
    * and compaction leftovers are cleared FIRST, so a rebuilt store can
    * never be haunted by the old one's deletes or poisoned batch ids).
    * The ONE survivor is the persisted `_takedowns` registry
    * ([[Takedown]]) — deliberately generation- and rebuild-independent,
    * because a rebuild from the raw corpus is exactly where a blocked
    * vec_id would otherwise be silently re-admitted.
    * One training pipeline, one partitioned write; the corpus never
    * shuffles except the partitionBy(cell) write placement. */
  def write(spark: SparkSession, emb: DataFrame, dir: String,
      cells: Int = 8, m: Int = 8, codebookSize: Int = 16,
      kmeansIters: Int = 3,
      takedownIds: Option[DataFrame] = None): Unit = {
    require(cells >= 1 && m >= 1 && codebookSize >= 2 && codebookSize <= 256,
      s"need cells >= 1, m >= 1, codebookSize in [2,256]: " +
        s"$cells/$m/$codebookSize")
    val fs = fsOf(spark, dir)
    // previous-incarnation state goes BEFORE any new data lands: stale
    // tombstones would mask the new corpus, a stale ledger would
    // swallow future appends as "already committed", a stale pointer
    // would resolve reads away from the fresh base-named components
    gcGenerations(fs, dir, keep = None)
    rmTree(fs, s"$dir/_current")
    rmTree(fs, s"$dir/_current.tmp")
    rmTree(fs, s"$dir/deletes")
    rmTree(fs, s"$dir/codes_compact")
    rmTree(fs, s"$dir/codes_old")
    rmTree(fs, s"$dir/_retrain_ready")
    rmTree(fs, s"$dir/codes_retrain")
    rmTree(fs, s"$dir/centroids_retrain")
    rmTree(fs, s"$dir/codebooks_retrain")
    rmTree(fs, s"$dir/codes.claims")
    rmTree(fs, s"$dir/deletes.claims")
    rmTree(fs, s"$dir/codes.ledger")
    rmTree(fs, s"$dir/codes.ledger.tmp")
    rmTree(fs, s"$dir/deletes.ledger")
    rmTree(fs, s"$dir/deletes.ledger.tmp")
    // the standing takedown guard covers the REBUILD path too — a fresh
    // write from the raw corpus is exactly where a compliance pipeline
    // would otherwise silently re-index taken-down vectors
    trainInto(spark, guardTakedowns(fs, dir, emb, takedownIds), cells, m,
      codebookSize, kmeansIters,
      s"$dir/codes", s"$dir/centroids", s"$dir/codebooks")
  }

  /** The one training+layout pipeline [[write]] and [[retrain]] share:
    * train coarse cells + residual codebooks over `emb` and lay the
    * store's three components down at the given paths (codes as
    * batch=0, cell-partitioned). */
  private def trainInto(spark: SparkSession, emb: DataFrame,
      cells: Int, m: Int, codebookSize: Int, kmeansIters: Int,
      codesOut: String, centroidsOut: String,
      codebooksOut: String): Unit = {
    import spark.implicits._
    val fs = fsOf(spark, codesOut)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coarse = Similarity.kMeansCentroids(vecs, cells, kmeansIters)
    val assigned = assignResiduals(spark, vecs, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = Pq.trainCodebooks(assigned, m, codebookSize, kmeansIters)
    assigned
      .select(col("vec_id"), lit(0L).as("batch"), col("cell"),
        Pq.encode(col("embedding"), books).as("codes"))
      .write.partitionBy("batch", "cell").mode("overwrite")
      .parquet(codesOut)
    requireMarker(fs, codesOut)
    coarse.zipWithIndex
      .map { case (cent, c) => (c, cent.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(centroidsOut)
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, code) => (j, code, cent.toSeq) }
    }.toSeq.toDF("j", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(codebooksOut)
    assigned.unpersist()
    vecs.unpersist()
  }

  /** Incremental ingest — the production pattern: NEW vectors join an
    * existing store WITHOUT retraining. The frozen centroids/codebooks
    * collect to the driver (bounded metadata), each new vector assigns
    * to its nearest EXISTING cell and encodes its residual against the
    * FROZEN codebooks, and the code rows land as one new batch
    * directory — a pure map stage plus a partitioned parquet write; the
    * existing corpus is never read or rewritten. Queries see old and
    * new vectors identically (same cells, same ADC tables).
    * Quantization drift is the stated trade: appended vectors are coded
    * against codebooks trained before they existed — monitor (the q149
    * recall query) and [[retrain]] offline when recall decays.
    *
    * Idempotence: an append whose batch id is already COMMITTED
    * (`_SUCCESS` marker or compaction ledger) is a no-op; a marker-less
    * directory from a crashed attempt is overwritten, never trusted.
    * Default ids allocate below [[StreamBatchBase]] through an
    * exclusive-create claim ([[claimBatchId]]), so two concurrent
    * batch-mode appends land as two distinct batches. Duplicate vec_ids
    * ACROSS distinct batches remain the caller's contract (dedup ids
    * upstream, the q90 incremental-ingest discipline). */
  /** The ingest-side STANDING takedown guard — [[DedupIndex]]'s
    * discipline applied to the vector store: a tombstone is FINAL for
    * its vec_id, but a compliance pipeline must also block a taken-down
    * id RE-DELIVERED by an upstream source. Blocked rows are dropped
    * BEFORE encoding, so they never land as code rows at all. Two
    * sources, unioned by [[Takedown.guard]] (the one implementation
    * both stores share): the store's PERSISTED `_takedowns` registry
    * ([[Takedown.register]] — read automatically by every ingest verb,
    * surviving rebuilds and pointer flips), plus whatever `takedownIds`
    * list the caller still passes. A takedown that must bite
    * immediately on already-stored rows is a [[delete]]. */
  private def guardTakedowns(fs: FileSystem, dir: String,
      emb: DataFrame, takedownIds: Option[DataFrame]): DataFrame =
    Takedown.guard(emb, "vec_id", takedownIds, fs, dir)

  def append(spark: SparkSession, dir: String, emb: DataFrame,
      batchId: Option[Long] = None,
      takedownIds: Option[DataFrame] = None): Unit = {
    require(batchId.forall(_ > 0L), "batch 0 is the initial write")
    val fs = fsOf(spark, dir)
    val gen = currentGen(fs, dir)
    heal(fs, dir, gen)
    val root = componentRoot(dir, "codes", gen)
    val id = batchId.getOrElse(claimBatchId(fs, root))
    if (committedBatches(fs, root).contains(id)) return
    val (coarse, books) = readMeta(spark, dir, gen)
    assignResiduals(spark, guardTakedowns(fs, dir, emb, takedownIds), coarse)
      .select(col("vec_id"), col("cell"),
        Pq.encode(col("embedding"), books).as("codes"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$root/batch=$id")
    requireMarker(fs, s"$root/batch=$id")
  }

  /** Tombstone deletes — the third lifecycle verb (a dedup or takedown
    * pass removes vectors from retrieval without rewriting code files):
    * the ids land as a `deletes/batch=<id>` directory (same commit-based
    * idempotence and claim-based default ids as [[append]]) and every
    * query anti-joins them out BEFORE scoring. A tombstone is FINAL for
    * its vec_id — it masks every stored row with that id, past and
    * future; re-ingest under a fresh id. Space is reclaimed offline by
    * [[compact]], never in the serving path.
    *
    * Like every other lifecycle verb, delete [[heal]]s first: a
    * pending retrain swap must finish BEFORE the tombstone lands, or
    * the tombstone would be written into the dead incarnation's
    * directory and destroyed by the very swap that next serves the
    * store — the deleted vectors would silently keep being served.
    *
    * THE GENERATION FENCE: after the tombstone commits, delete
    * re-resolves `_current`; if the pointer moved while the landing was
    * in flight (a pointer-mode [[compact]] flipped mid-write), the
    * tombstone may have committed into the DEAD generation after the
    * compact's post-flip migration sweep already ran — the one window
    * the two sweeps cannot cover, because no sweep can see a commit
    * that has not happened yet. The fence re-lands the ids into the
    * generation now serving and loops until the pointer is stable
    * across a landing. Explicit ids re-land under the SAME id —
    * idempotent against a migration that did copy them; default ids
    * claim a FRESH id in the new root (the old claim belonged to the
    * dead root's pool — reusing its number
    * could collide with an id independently claimed there since the
    * flip, and a duplicate mask is harmless where a collision would
    * silently drop the takedown). With the fence, a delete — default
    * or explicit id — can no longer be lost to a concurrent pointer
    * compact, whatever the interleaving. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      batchId: Option[Long] = None): Unit = {
    require(batchId.forall(_ > 0L), "delete batch ids start at 1")
    val fs = fsOf(spark, dir)
    val gen = currentGen(fs, dir)
    heal(fs, dir, gen)
    val root = componentRoot(dir, "deletes", gen)
    val id = batchId.getOrElse(claimBatchId(fs, root))
    val clean = ids.select(col("vec_id").cast("long").as("vec_id"))
    if (!committedBatches(fs, root).contains(id)) {
      clean.write.mode("overwrite").parquet(s"$root/batch=$id")
      requireMarker(fs, s"$root/batch=$id")
    }
    var landedIn = gen
    var now = currentGen(fs, dir)
    var fences = 0
    while (now != landedIn) {
      fences += 1
      require(fences <= 16,
        s"the _current pointer moved $fences times during ONE delete " +
          s"at $dir — a runaway compact loop, not a serving store")
      val r = componentRoot(dir, "deletes", now)
      val rid = batchId.getOrElse(claimBatchId(fs, r))
      if (!committedBatches(fs, r).contains(rid)) {
        clean.write.mode("overwrite").parquet(s"$r/batch=$rid")
        requireMarker(fs, s"$r/batch=$rid")
      }
      landedIn = now
      now = currentGen(fs, dir)
    }
  }

  /** Offline compaction — the space-reclaim half of the tombstone
    * contract: fold every committed batch into one batch-0 layout with
    * the tombstoned rows physically dropped, then clear the tombstones.
    * Semantically result-invisible (spec-pinned); physically one
    * directory per cell again and no anti-join in the serving path.
    *
    * The committed id set is captured ONCE, up front; the fold reads
    * exactly those directories, and exactly that captured set is
    * ledgered — the ledger can never claim a batch was folded whose
    * rows the rewrite did not actually read. Compact remains an OFFLINE
    * verb for APPENDS: the final swap replaces the whole codes
    * component, so a code batch committed by a concurrent appender
    * between the capture and the swap would be lost with or without the
    * ledger discipline — run it from the single maintenance process,
    * like [[retrain]]. TOMBSTONES are deliberately safer (a takedown
    * must not wait for the maintenance window): the
    * teardown sweeps only the CAPTURED tombstone dirs in rename mode
    * and migrates late arrivals into the new generation in pointer mode
    * — TWICE: once before the flip (so the new generation masks them
    * from its first served instant) and once after (so a tombstone that
    * committed between the first pass and the flip survives the GC).
    * An uncaptured takedown keeps masking and the next compact applies
    * it; a delete IN FLIGHT during the flip itself — one that resolved
    * the old generation before the flip and commits there after the
    * post-flip sweep — is caught by [[delete]]'s own generation fence,
    * which re-resolves the pointer after every landing and re-lands
    * into the new generation when it moved. No interleaving loses a
    * takedown.
    *
    * Two swap modes:
    *
    *  - `pointerSwap = false` (default, the fast path where rename is
    *    atomic — HDFS/local): (1) the rewrite lands complete in
    *    `codes_compact`; (2) the CAPTURED batch ids are ledgered —
    *    BEFORE any directory disappears, so a replay of an
    *    already-folded batch stays a no-op; (3) the old codes renames
    *    aside and the replacement renames in. A crash before (3) leaves
    *    the old store fully intact; a crash INSIDE the two renames
    *    leaves the completed replacement on disk and [[heal]] — run by
    *    append/query — swaps it in. No window leaves a mix of old and
    *    new rows.
    *  - `pointerSwap = true` (object stores, where rename is
    *    copy+delete): the folded layout, the carried-over
    *    centroids/codebooks, and BOTH ledgers (pre-loaded with the
    *    folded ids) land COMPLETE under the next generation's
    *    `<name>@<gen>` paths — all invisible to readers; then ONE small
    *    atomic `_current` write flips the store, and the dead
    *    generation is garbage-collected (a crash mid-GC just leaves
    *    garbage for the next offline verb's sweep). No rename touches
    *    data at any point. */
  def compact(spark: SparkSession, dir: String,
      pointerSwap: Boolean = false): Unit = {
    val fs = fsOf(spark, dir)
    healPointer(fs, dir)
    val gen = currentGen(fs, dir)
    heal(fs, dir, gen)
    val codesRoot = componentRoot(dir, "codes", gen)
    val delRoot = componentRoot(dir, "deletes", gen)
    // purge crashed half-writes BEFORE folding: their rows must not leak
    // into the compacted layout, and leaving their ids OUT of the ledger
    // lets a later replay legitimately re-ingest them
    Seq(codesRoot, delRoot).foreach { root =>
      val committed = committedBatches(fs, root)
      val rootP = new Path(root)
      if (fs.exists(rootP))
        fs.listStatus(rootP).map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
          .filterNot(id => id == 0L || committed.contains(id))
          .foreach(id => rmTree(fs, s"$root/batch=$id"))
    }
    // capture ONCE: these exact ids are folded and these exact ids are
    // ledgered — the fold's input set and the ledger can never diverge
    val codeIds = committedBatches(fs, codesRoot)
    val delIds = committedBatches(fs, delRoot)
    val codePaths = committedPaths(fs, codesRoot)
    val delPaths = committedPaths(fs, delRoot)
    require(codePaths.nonEmpty, s"nothing to compact under $codesRoot")
    val live = {
      val codes = spark.read.option("basePath", codesRoot)
        .parquet(codePaths: _*)
        .select(col("vec_id"), col("cell"), col("codes"))
      if (delPaths.nonEmpty)
        codes.join(
          spark.read.option("basePath", delRoot).parquet(delPaths: _*)
            .select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      else codes
    }
    if (!pointerSwap) {
      rmTree(fs, s"$dir/codes_compact")
      live.select(col("vec_id"), lit(0L).as("batch"), col("cell"), col("codes"))
        .write.partitionBy("batch", "cell").mode("overwrite")
        .parquet(s"$dir/codes_compact")
      // poison the CAPTURED ids BEFORE any directory disappears (batch 0
      // folds into the new batch 0; it never enters the ledger)
      extendLedger(fs, codesRoot, codeIds - 0L)
      extendLedger(fs, delRoot, delIds - 0L)
      rmTree(fs, s"$dir/codes_old") // stale leftover from an earlier crash
      require(fs.rename(new Path(codesRoot), new Path(s"$dir/codes_old")),
        s"compaction swap-out failed: $dir")
      require(fs.rename(new Path(s"$dir/codes_compact"), new Path(codesRoot)),
        s"compaction swap-in failed: $dir")
      rmTree(fs, s"$dir/codes_old")
      // sweep ONLY the captured tombstone dirs, never the whole root: a
      // tombstone that landed between the capture and this teardown (a
      // concurrent delete) was NOT folded — its rows are still present
      // in the compacted layout, so the surviving dir keeps masking
      // them correctly and the NEXT compact applies it. An rmTree of
      // the root would destroy it un-ledgered after its delete call
      // already returned — the takedown would be silently lost forever.
      delIds.foreach(id => rmTree(fs, s"$delRoot/batch=$id"))
      rmTree(fs, s"$codesRoot.claims")
      rmTree(fs, s"$delRoot.claims")
    } else {
      // stale staging from an earlier crashed pointer attempt restarts
      // from scratch (gens other than the serving one are never read);
      // rename-mode leftovers are garbage too once heal() ran above —
      // clear them so a later rename-mode heal can't mistake a dead
      // codes_compact for live staging
      gcGenerations(fs, dir, keep = gen)
      rmTree(fs, s"$dir/codes_compact")
      rmTree(fs, s"$dir/codes_old")
      val next = gen.getOrElse(0L) + 1
      val nextCodes = s"$dir/codes@$next"
      val nextDel = s"$dir/deletes@$next"
      live.select(col("vec_id"), lit(0L).as("batch"), col("cell"), col("codes"))
        .write.partitionBy("batch", "cell").mode("overwrite")
        .parquet(nextCodes)
      requireMarker(fs, nextCodes)
      // centroids/codebooks are unchanged by compaction but must exist
      // under the new generation's names: rewrite the tiny metadata
      spark.read.parquet(componentRoot(dir, "centroids", gen))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/centroids@$next")
      spark.read.parquet(componentRoot(dir, "codebooks", gen))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/codebooks@$next")
      // the new generation is born with the folded ids already
      // ledgered — a replay of a folded batch is a no-op from the
      // first moment the generation serves
      writeLedger(fs, nextCodes, codeIds - 0L)
      writeLedger(fs, nextDel, delIds - 0L)
      // tombstones that landed in the OLD generation between the capture
      // and here (a concurrent delete) were not folded —
      // migrate them BEFORE the flip, so the instant the new generation
      // serves it already masks them: without this pass, a taken-down
      // vec_id would transiently resurface between the flip and a
      // post-flip migration
      migrateLateTombstones(fs, delRoot, nextDel, delIds)
      // THE FLIP: one small atomic write; everything before it was
      // invisible, everything after it is garbage collection
      atomicWriteString(fs, new Path(s"$dir/_current"), s"$next #\n")
      // second migration pass AFTER the flip, before the old generation
      // is GC'd: a tombstone that committed in the old root between the
      // pre-flip pass and the flip itself would otherwise be destroyed
      // after its delete call already returned. (A delete in flight
      // RIGHT NOW that commits after this sweep
      // is caught on ITS side — delete's generation fence re-resolves
      // the pointer after landing and re-lands into this generation.)
      migrateLateTombstones(fs, delRoot, nextDel, delIds)
      Seq(codesRoot, delRoot,
          componentRoot(dir, "centroids", gen),
          componentRoot(dir, "codebooks", gen)).foreach(rmTree(fs, _))
      Seq(codesRoot, delRoot).foreach { r =>
        rmTree(fs, s"$r.claims")
        rmTree(fs, s"$r.ledger")
        rmTree(fs, s"$r.ledger.tmp")
      }
    }
  }

  /** Copy every COMMITTED tombstone batch under `oldRoot` that is not in
    * `captured` (the compact's fold input set) into `newRoot` — the
    * late arrivals of deletes running concurrently with a pointer-mode
    * compact. Copied dirs carry their `_SUCCESS`, so they mask
    * immediately in the new generation and the next compact folds them.
    * Idempotent: a batch already present under `newRoot` is skipped, so
    * [[compact]]'s two passes (pre-flip and post-flip) compose — a
    * blind re-copy would nest the directory and tear the mask.
    * Package-visible for the spec, which exercises the migration
    * directly (the window it closes is inherently concurrent). */
  private[ops] def migrateLateTombstones(fs: FileSystem, oldRoot: String,
      newRoot: String, captured: Set[Long]): Unit =
    (committedBatches(fs, oldRoot) -- captured)
      .filter(id => fs.exists(new Path(s"$oldRoot/batch=$id")) &&
        !fs.exists(new Path(s"$newRoot/batch=$id")))
      .foreach { id =>
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new Path(s"$oldRoot/batch=$id"), fs,
          new Path(s"$newRoot/batch=$id"), false, fs.getConf)
      }

  /** Offline retraining — the lifecycle closure for quantization drift:
    * when [[append]]ed vectors (coded against codebooks trained before
    * they existed) erode recall (measured by the q149/q152 monitoring
    * queries), recompute coarse cells AND residual codebooks from the
    * live corpus and rewrite the store as a FRESH incarnation. `corpus`
    * is the lake's raw embedding table (the store itself holds only
    * m-byte codes — reconstructing training vectors from them would
    * bake the very quantization error retraining exists to shed); only
    * the rows whose vec_id is live in the store — stored, not
    * tombstoned — are trained on or re-coded, so retrain composes with
    * [[delete]] exactly like [[compact]] does. The corpus must COVER
    * the live set: a lake table that lost rows (or was passed filtered
    * by mistake) fails loudly up front instead of quietly training a
    * store that forgot those vectors.
    *
    * Swap modes mirror [[compact]]: the default rename protocol stages
    * `*_retrain` components and flips through the idempotent
    * `_retrain_ready` marker + [[finishRetrain]] (crash anywhere =
    * finished by the next touch via [[heal]]); `pointerSwap = true`
    * stages the full next generation (components + pre-loaded ledgers)
    * and flips the `_current` pointer — no renames, object-store-safe.
    * Like compact, retrain is an OFFLINE verb: run it from the single
    * maintenance process.
    *
    * Determinism: the live corpus is canonicalized —
    * `repartition(P, vec_id).sortWithinPartitions(vec_id)` — before
    * training, so row-to-partition placement depends only on vec_id
    * hashes, not on upstream join shapes. That one extra shuffle (of an
    * offline job) is what lets the q152 oracle replay the trainers
    * bit-for-bit from a plain filter of the lake table. */
  def retrain(spark: SparkSession, dir: String, corpus: DataFrame,
      cells: Int = 8, m: Int = 8, codebookSize: Int = 16,
      kmeansIters: Int = 3, pointerSwap: Boolean = false): Unit = {
    require(cells >= 1 && m >= 1 && codebookSize >= 2 && codebookSize <= 256,
      s"need cells >= 1, m >= 1, codebookSize in [2,256]: " +
        s"$cells/$m/$codebookSize")
    val fs = fsOf(spark, dir)
    healPointer(fs, dir)
    val gen = currentGen(fs, dir)
    heal(fs, dir, gen)
    val codesRoot = componentRoot(dir, "codes", gen)
    val delRoot = componentRoot(dir, "deletes", gen)
    // capture ONCE, like compact: these ids are folded and ledgered
    val codeIds = committedBatches(fs, codesRoot)
    val delIds = committedBatches(fs, delRoot)
    val codePaths = committedPaths(fs, codesRoot)
    val delPaths = committedPaths(fs, delRoot)
    require(codePaths.nonEmpty, s"nothing to retrain under $codesRoot")
    val storedIds = spark.read.option("basePath", codesRoot)
      .schema(codesSchema)
      .parquet(codePaths: _*).select(col("vec_id"))
    val liveIds =
      if (delPaths.nonEmpty)
        storedIds.join(
          spark.read.option("basePath", delRoot).schema(vecDeletesSchema)
            .parquet(delPaths: _*)
            .select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      else storedIds
    // completeness guard: every live id must exist in the corpus —
    // `corpus ⋉ liveIds` would otherwise SILENTLY drop the vectors the
    // lake lost, and the store would serve as if they never existed
    val missing = liveIds
      .join(corpus.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .count()
    require(missing == 0L,
      s"retrain corpus is missing $missing live vector id(s) — a " +
        "filtered or stale lake table would silently shrink the store; " +
        "pass the complete embedding corpus")
    val p = spark.sessionState.conf.numShufflePartitions
    val live = corpus.select(col("vec_id"), col("embedding"))
      .join(liveIds, Seq("vec_id"), "left_semi")
      .repartition(p, col("vec_id")).sortWithinPartitions("vec_id")
    if (!pointerSwap) {
      // stale staging from an earlier crashed attempt (pre-marker, so
      // the old incarnation never saw it) restarts from scratch
      rmTree(fs, s"$dir/_retrain_ready")
      rmTree(fs, s"$dir/codes_retrain")
      rmTree(fs, s"$dir/centroids_retrain")
      rmTree(fs, s"$dir/codebooks_retrain")
      trainInto(spark, live, cells, m, codebookSize, kmeansIters,
        s"$dir/codes_retrain", s"$dir/centroids_retrain",
        s"$dir/codebooks_retrain")
      // poison replays of the folded batches BEFORE the incarnation flips
      extendLedger(fs, codesRoot, codeIds - 0L)
      extendLedger(fs, delRoot, delIds - 0L)
      // the single-file marker IS the flip; everything after is replayable
      fs.create(new Path(s"$dir/_retrain_ready"), true).close()
      finishRetrain(fs, dir, gen)
    } else {
      // same leftover hygiene as pointer-mode compact: dead rename-mode
      // staging (post-heal) must not linger as a future hazard
      gcGenerations(fs, dir, keep = gen)
      rmTree(fs, s"$dir/_retrain_ready")
      rmTree(fs, s"$dir/codes_retrain")
      rmTree(fs, s"$dir/centroids_retrain")
      rmTree(fs, s"$dir/codebooks_retrain")
      val next = gen.getOrElse(0L) + 1
      trainInto(spark, live, cells, m, codebookSize, kmeansIters,
        s"$dir/codes@$next", s"$dir/centroids@$next",
        s"$dir/codebooks@$next")
      writeLedger(fs, s"$dir/codes@$next", codeIds - 0L)
      writeLedger(fs, s"$dir/deletes@$next", delIds - 0L)
      atomicWriteString(fs, new Path(s"$dir/_current"), s"$next #\n")
      Seq(codesRoot, delRoot,
          componentRoot(dir, "centroids", gen),
          componentRoot(dir, "codebooks", gen)).foreach(rmTree(fs, _))
      Seq(codesRoot, delRoot).foreach { r =>
        rmTree(fs, s"$r.claims")
        rmTree(fs, s"$r.ledger")
        rmTree(fs, s"$r.ledger.tmp")
      }
    }
  }

  /** Approximate top-k nearest (squared L2) to `queryVec` from the
    * store: centroids/codebooks collect to the driver (bounded
    * metadata), the `nprobe` nearest cells and their ADC tables are
    * computed there, and the ONLY corpus work is a scan of the probed
    * cells' code files — `cell.isin(probed)` lands in PartitionFilters,
    * so unprobed cells' files are never opened (asserted in
    * VectorStoreSpec). Scoring is m table lookups per stored code row,
    * then one TakeOrderedAndProject. */
  def queryTopK(spark: SparkSession, dir: String, queryVec: Array[Float],
      k: Int, nprobe: Int = 2,
      excludeVecId: Option[Long] = None,
      readOnly: Boolean = false): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"need k >= 1 and nprobe >= 1: $k/$nprobe")
    val fs = fsOf(spark, dir)
    val gen = currentGen(fs, dir)
    if (readOnly) readOnlyHeal(fs, dir, gen) else heal(fs, dir, gen)
    val (coarse, books) = readMeta(spark, dir, gen)
    val m = books.length
    val codebookSize = books.head.length
    val sub = books.head.head.length
    require(queryVec.length == m * sub,
      s"query dim ${queryVec.length} != ${m * sub}")
    // stable sort: equal distances tie-break to the lower cell id — the
    // exact probe rule of Pq.ivfPqTopK
    val probed = coarse.indices.sortBy { c =>
      var d = 0.0; var i = 0
      while (i < queryVec.length) {
        val x = queryVec(i) - coarse(c)(i); d += x * x; i += 1
      }
      d
    }.take(nprobe)
    // ADC tables for the PROBED cells only, keyed by cell id: the plan
    // literal is nprobe x m x codebookSize doubles no matter how many
    // cells the store holds — a production IVF at 64k cells would
    // otherwise embed ~65 MB of zero-filled tables per query for cells
    // the partition filter never lets through
    val adc: Map[Int, Seq[Seq[Double]]] = probed.map { c =>
      c -> Seq.tabulate(m) { j =>
        Seq.tabulate(codebookSize) { code =>
          var d = 0.0; var i = 0
          val cent = books(j)(code)
          while (i < sub) {
            val qr = (queryVec(j * sub + i) - coarse(c)(j * sub + i)).toFloat
            val diff = qr - cent(i); d += diff * diff; i += 1
          }
          d
        }
      }
    }.toMap
    // scan ONLY committed batch directories (explicit paths under a
    // basePath, so partition columns survive): a crashed half-write is
    // officially nonexistent and must be neither served nor even
    // footer-probed by schema inference
    val codesRoot = componentRoot(dir, "codes", gen)
    val codePaths = committedPaths(fs, codesRoot)
    if (codePaths.isEmpty) {
      // a store that FORGOT ITS WHOLE CORPUS (every vector tombstoned,
      // then compacted) is legal — the terminal takedown case; serve
      // the empty answer instead of dying in schema inference
      import spark.implicits._
      return Seq.empty[(Long, Double)].toDF("vec_id", "approx_d2")
    }
    val base = spark.read.option("basePath", codesRoot)
      .schema(codesSchema)
      .parquet(codePaths: _*)
      .filter(col("cell").isInCollection(probed))
    val excluded = excludeVecId match {
      case Some(id) => base.filter(col("vec_id") =!= id)
      case None => base
    }
    // tombstones (committed ones only) mask rows before any scoring
    // work is spent on them
    val delRoot = componentRoot(dir, "deletes", gen)
    val delPaths = committedPaths(fs, delRoot)
    val scanned =
      if (delPaths.nonEmpty)
        excluded.join(
          spark.read.option("basePath", delRoot)
            .schema(vecDeletesSchema)
            .parquet(delPaths: _*).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      else excluded
    scanned
      .select(col("vec_id"),
        round(aggregate(
          zip_with(col("codes"),
            element_at(typedLit(adc), col("cell")),
            (code, row) => element_at(row, code + 1)),
          lit(0.0), (a, x) => a + x), 6).as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(k)
  }

  /** Batch ANN over the disk store — the production retrieval shape: a
    * whole DataFrame of `(vec_id, embedding)` queries answered in ONE
    * distributed job against the store's layout, instead of one driver
    * round-trip per query (a 10k-query eval through [[queryTopK]] is
    * 10k sequential jobs; here it is one).
    *
    * Plan shape (the [[Similarity.annKnnJoin]] discipline against the
    * partitioned codes): each query row computes its own probed cells
    * and per-cell ADC tables in a map stage over the QUERY side (the
    * frozen centroids/codebooks ride the closure — bounded metadata);
    * the store scans the UNION of probed cells once (still directory-
    * pruned through PartitionFilters — unprobed cells' files stay
    * unopened); probe rows meet code rows in one `cell` equi-join;
    * scoring is the same m table lookups per candidate; and the
    * per-query top-k is one `row_number` window. Corpus rows are
    * touched once for ALL queries.
    *
    * Join regimes: while the query set is small the probe side
    * broadcasts; past that, the join shuffles. The regime is
    * AUTO-SELECTED from the probe side's measured size (the qprobe
    * row count is materialized anyway, and each row's ADC payload is
    * `m x codebookSize` doubles — exact arithmetic, not a guess):
    * under [[batchProbeBroadcastBytes]] the probe side broadcasts,
    * above it the salted shuffle takes over — the
    * [[Takedown.guard]]-style size discipline, so a caller who
    * forgets to think about regime at 100 TB cannot broadcast an
    * arbitrarily large query set into every executor. `broadcastProbes
    * = Some(...)` stays as the explicit override for both directions.
    * In the shuffle regime a bare `cell` key
    * would hand each hot cell's ENTIRE candidate set to one reducer
    * (cell cardinality is the IVF cell count, and real corpora are
    * skewed across cells). The shuffle regime therefore salts the code
    * side into `saltBuckets` shards and replicates each probe row per
    * shard ([[Skew.saltedJoin]], the q137 pattern) — result-invisible
    * (regime-equivalence is spec-pinned), hot cells spread over
    * `saltBuckets` reducers, and the bounded price is the probe side
    * growing saltBuckets-fold. When the probed data fits in memory the
    * salted form can even WIN (SCALE hot-cell probe: ~2x faster) —
    * AQE broadcasts the skinny code side and streams the fat ADC rows
    * — but the hint regime remains the default because it shuffles
    * zero corpus rows, the dominant cost once probed cells hold
    * terabytes.
    *
    * Output: (query_id, vec_id, approx_d2, knn_rank), rank 1..k per
    * query by (approx_d2 asc, vec_id) — bit-identical per query to
    * [[queryTopK]] with the same parameters (spec-pinned). By default a
    * query row whose vec_id also exists in the store never matches
    * itself (the recall-eval contract, where the stored self is a
    * trivial rank-1 hit); `excludeSelf = false` keeps self-matches —
    * what [[semanticDedupBatch]] needs, where a re-delivered stable id
    * matching its stored copy IS the duplicate being hunted. */
  /** Probe-side budget for [[queryTopKBatch]]'s auto-selected join
    * regime: at or under this many estimated probe bytes (query rows x
    * nprobe, each carrying its m x codebookSize ADC doubles) the probe
    * side broadcasts; above it the salted shuffle takes over. 64 MiB —
    * comfortably inside executor memory on any real cluster, far under
    * the point where per-executor probe copies start to hurt.
    * (Overridable via system property for the boundary spec only.) */
  private def batchProbeBroadcastBytes: Long =
    sys.props.get("graft.vectorstore.batchBroadcastBytes").map(_.toLong)
      .getOrElse(64L << 20)

  def queryTopKBatch(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int = 2,
      broadcastProbes: Option[Boolean] = None,
      saltBuckets: Int = 16,
      excludeSelf: Boolean = true,
      readOnly: Boolean = false): DataFrame = {
    import spark.implicits._
    require(k >= 1 && nprobe >= 1, s"need k >= 1 and nprobe >= 1: $k/$nprobe")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1: $saltBuckets")
    val fs = fsOf(spark, dir)
    val gen = currentGen(fs, dir)
    if (readOnly) readOnlyHeal(fs, dir, gen) else heal(fs, dir, gen)
    val (coarse, books) = readMeta(spark, dir, gen)
    val m = books.length
    val codebookSize = books.head.length
    val sub = books.head.head.length
    val cs = coarse
    val bks = books
    // one row per (query, probed cell) carrying that pair's ADC table —
    // the exact per-cell arithmetic of queryTopK, computed where the
    // query rows live instead of on the driver
    val qprobe = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        require(qv.length == m * sub,
          s"query dim ${qv.length} != ${m * sub}")
        val probed = cs.indices.sortBy { c =>
          var d = 0.0; var i = 0
          while (i < qv.length) {
            val x = qv(i) - cs(c)(i); d += x * x; i += 1
          }
          d
        }.take(nprobe)
        probed.map { c =>
          val adc = Seq.tabulate(m) { j =>
            Seq.tabulate(codebookSize) { code =>
              var d = 0.0; var i = 0
              val cent = bks(j)(code)
              while (i < sub) {
                val qr = (qv(j * sub + i) - cs(c)(j * sub + i)).toFloat
                val diff = qr - cent(i); d += diff * diff; i += 1
              }
              d
            }
          }
          (qid, c, adc)
        }
      }
      .toDF("query_id", "cell", "adc")
      // queries x nprobe rows, read twice (probed-cell union + the
      // join): materialize once, bounded by the query set
      .localCheckpoint(true)
    // the union of probed cells bounds the scan; collecting it is a
    // <= cells-sized metadata read, the price of partition pruning
    val probedCells = qprobe.select(col("cell")).distinct()
      .as[Int].collect().toSeq
    val codesRoot = componentRoot(dir, "codes", gen)
    val codePaths = committedPaths(fs, codesRoot)
    if (codePaths.isEmpty) // fully-forgotten store (see queryTopK)
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "vec_id", "approx_d2", "knn_rank")
    val base = spark.read.option("basePath", codesRoot)
      .schema(codesSchema)
      .parquet(codePaths: _*)
      .filter(col("cell").isInCollection(probedCells))
    val delRoot = componentRoot(dir, "deletes", gen)
    val delPaths = committedPaths(fs, delRoot)
    val scanned =
      if (delPaths.nonEmpty)
        base.join(
          spark.read.option("basePath", delRoot)
            .schema(vecDeletesSchema)
            .parquet(delPaths: _*).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      else base
    // Regime choice, measured on the SCALE hot-cell probe (half the
    // store in one cell, 2k drifted queries): the salted shuffle form
    // ran ~2x FASTER there because AQE, free to pick the
    // build side, broadcast the SKINNY code rows and streamed the fat
    // ADC probe rows — where the probe-broadcast hint forces the fat
    // side into the build map. The hint regime is still the right
    // DEFAULT: with a small query set it shuffles ZERO corpus rows
    // (scan -> map -> bounded agg), which is what matters when the
    // probed cells hold terabytes; the salted regime is the shape for
    // query sets too big to broadcast, and its (cell, salt) key keeps a
    // hot cell off a single reducer.
    val useBroadcast = broadcastProbes.getOrElse {
      // auto-regime: qprobe is checkpointed, so the count is a cheap
      // metadata read; each row carries m x codebookSize ADC doubles
      val rowBytes = m.toLong * codebookSize * 8L + 64L
      qprobe.count() * rowBytes <= batchProbeBroadcastBytes
    }
    val joined =
      if (useBroadcast) scanned.join(broadcast(qprobe), Seq("cell"))
      // saltFrom = vec_id: per-ROW deterministic spread regardless of
      // how the code rows are partitioned (the scan reads cell=
      // directories, so a hot cell's rows could otherwise share the few
      // partition ids of its splits), payload (codes) never hashed
      else Skew.saltedJoin(scanned, qprobe, "cell", saltBuckets,
        saltFrom = Seq("vec_id"))
    // per-query top-k through the BOUNDED aggregator, not a row_number
    // window: the window formulation shuffles and sorts EVERY scored
    // candidate (queries x probed-cell rows — at production scale, the
    // dominant data movement of the whole query), where the Aggregator
    // prunes to k pairs per query MAP-SIDE and the shuffle carries only
    // queries x k-sized buffers per partition. Ordering is the
    // queryTopK contract — (approx_d2 asc, vec_id asc), boundary ties
    // to the lower vec_id — so results stay bit-identical (spec-pinned).
    val nonSelf =
      if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
      else joined
    nonSelf
      .select(col("query_id"), col("vec_id"),
        round(aggregate(
          zip_with(col("codes"), col("adc"),
            (code, row) => element_at(row, code + 1)),
          lit(0.0), (a, x) => a + x), 6).as("approx_d2"))
      .groupBy(col("query_id"))
      .agg(graft.functions.Udafs.bottomK(
        k, col("approx_d2"), col("vec_id")).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"),
        col("col.id").as("vec_id"),
        col("col.score").as("approx_d2"),
        (col("pos") + 1L).cast("long").as("knn_rank"))
  }

  private val P = 1000000007L

  /** The store's QA sweep — [[DedupIndex.validate]]'s discipline for
    * the store MOST prone to silent drift: a lost `batch=<id>`
    * directory in a rarely-probed cell serves quietly degraded recall
    * with no error anywhere, and nothing else ever recomputes what the
    * cells SHOULD hold. Per cell, the sweep recomputes the definitional
    * expectation from the lake corpus under the FROZEN
    * centroids/codebooks (the assign+encode step only — one pass, no
    * retraining) and compares it to the committed code rows: a row
    * COUNT and an order-independent xor-of-row-hashes CONTENT checksum,
    * where the row hash folds (vec_id, cell, every code byte) — so a
    * code row quantized against the wrong codebook, a swapped cell, or
    * a corrupted code value is caught even when counts survive. Both
    * sides are tombstone-masked: a taken-down vec_id is as-if never
    * stored, so a masked store validates clean against the full lake.
    *
    * `corpus` must be the same (vec_id, embedding) table the store was
    * built from and appended with — the lake's source of truth (the
    * [[retrain]] contract). Failures are error-as-data rows, one per
    * cell (the P7 discipline): `missing rows` (lost batch dir / lost
    * files), `extra rows` (duplicate append), `content drift` (counts
    * intact, checksum broken).
    *
    * Output: (cell, stored, expected, checksum, ok, reason) — one row
    * per cell present on either side; `checksum` is the stored side's,
    * pinned by the q170 oracle's independent driver replay.
    * `readOnly = true` is the pure-reader discipline [[queryTopK]]
    * already takes: pending maintenance is CLASSIFIED
    * ([[readOnlyHeal]] — WARN-and-sweep-the-old-incarnation when it is
    * provably intact, refuse otherwise) instead of completed, so an
    * analyst session holding read-only credentials can run the sweep
    * without ever writing. */
  def validate(spark: SparkSession, dir: String,
      corpus: DataFrame, readOnly: Boolean = false): DataFrame = {
    val fs = fsOf(spark, dir)
    val gen = currentGen(fs, dir)
    if (readOnly) readOnlyHeal(fs, dir, gen) else heal(fs, dir, gen)
    val (coarse, books) = readMeta(spark, dir, gen)
    val codesRoot = componentRoot(dir, "codes", gen)
    val delRoot = componentRoot(dir, "deletes", gen)
    val delPaths = committedPaths(fs, delRoot)
    def maskDel(df: DataFrame): DataFrame =
      if (delPaths.isEmpty) df
      else df.join(
        spark.read.option("basePath", delRoot).schema(vecDeletesSchema)
          .parquet(delPaths: _*)
          .select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    // content row hash, the DedupIndex.validate fold family:
    // seed 7, then vec_id, then cell, then every code — (a*131+v) mod P
    def rowHash: org.apache.spark.sql.Column = aggregate(col("codes"),
      ((lit(7L) * 131L + col("vec_id")) % P * 131L + col("cell")) % P,
      (a, v) => (a * 131L + v) % P)
    def cellAgg(df: DataFrame, n: String, c: String): DataFrame =
      df.select(col("cell").cast("long").as("cell"), rowHash.as("__rh"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as(n), expr("bit_xor(__rh)").as(c))
    val codePaths = committedPaths(fs, codesRoot)
    val stored =
      if (codePaths.isEmpty) {
        // fully-forgotten store: nothing stored, nothing to scan — the
        // sweep still runs, reporting every lake cell `missing rows`
        // (definitionally correct: pass the post-takedown lake for a
        // green result)
        import spark.implicits._
        Seq.empty[(Long, Long, Long)].toDF("cell", "stored", "checksum")
      } else cellAgg(
        maskDel(spark.read.option("basePath", codesRoot)
          .schema(codesSchema)
          .parquet(codePaths: _*)
          .select(col("vec_id"), col("cell"), col("codes"))),
        "stored", "checksum")
    // the definitional expectation: assign + encode the masked lake
    // under the frozen metadata — bit-identical to what write/append
    // produced, because encode is deterministic given the books
    val expected = cellAgg(
      assignResiduals(spark, maskDel(
          corpus.select(col("vec_id"), col("embedding"))), coarse)
        .select(col("vec_id"), col("cell"),
          Pq.encode(col("embedding"), books).as("codes")),
      "expected", "__ec")
    stored.join(expected, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("stored"), lit(0L)).as("stored"),
        coalesce(col("expected"), lit(0L)).as("expected"),
        coalesce(col("checksum"), lit(0L)).as("checksum"),
        (coalesce(col("stored"), lit(0L)) ===
          coalesce(col("expected"), lit(0L)) &&
          coalesce(col("checksum"), lit(0L)) ===
            coalesce(col("__ec"), lit(0L))).as("ok"),
        when(coalesce(col("stored"), lit(0L)) <
            coalesce(col("expected"), lit(0L)), lit("missing rows"))
          .when(coalesce(col("stored"), lit(0L)) >
            coalesce(col("expected"), lit(0L)), lit("extra rows"))
          .when(coalesce(col("checksum"), lit(0L)) =!=
            coalesce(col("__ec"), lit(0L)), lit("content drift"))
          .otherwise(lit("ok")).as("reason"))
  }

  /** Incremental SEMANTIC dedup against the persisted store — the
    * nightly composition of the two retrieval layers this library
    * maintains: a batch of fresh embeddings asks the store for each
    * row's nearest stored neighbor ([[queryTopKBatch]], k = 1 — ONE
    * distributed job for the whole batch) and a row whose approximate
    * distance lands at or under `maxApproxD2` is flagged a duplicate of
    * that neighbor. [[Similarity.semanticDedup]] is the in-memory
    * corpus-wide pass; this is its INGEST-TIME shape: the corpus is
    * never re-embedded or re-scanned — only the probed cells' code
    * rows are read, and the batch never compares against itself
    * (batch-internal semantic dedup is the in-memory operator's job,
    * run it on the survivors).
    *
    * The threshold speaks ADC units: approximate SQUARED L2 in the
    * store's quantized space (exactly [[queryTopK]]'s approx_d2), so
    * calibrate it against the store's own distance distribution — an
    * exact re-ingest lands at pure quantization error, far below any
    * genuine neighbor. Self-matches COUNT: a source with stable ids
    * that re-delivers a vec_id already in the store matches its stored
    * copy (`excludeSelf = false` underneath) — precisely the duplicate
    * this operator exists to catch.
    *
    * Output: one row PER BATCH ROW — (vec_id, is_dup, near_id,
    * approx_d2); rows with no stored candidate in their probed cells
    * come back is_dup = false with NULL neighbor. Downstream keeps
    * `!is_dup` rows (and typically [[append]]s them). */
  def semanticDedupBatch(spark: SparkSession, dir: String,
      batch: DataFrame, maxApproxD2: Double, nprobe: Int = 2,
      broadcastProbes: Option[Boolean] = None,
      saltBuckets: Int = 16): DataFrame = {
    val nn = queryTopKBatch(spark, dir, batch, k = 1, nprobe,
        broadcastProbes, saltBuckets, excludeSelf = false)
      .filter(col("knn_rank") === 1L)
      .select(col("query_id").as("vec_id"), col("vec_id").as("near_id"),
        col("approx_d2"))
    batch.select(col("vec_id"))
      .join(nn, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("approx_d2") <= maxApproxD2, lit(false)).as("is_dup"),
        col("near_id"), col("approx_d2"))
  }
}
