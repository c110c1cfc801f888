package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Training-run assembly — the last mile from a curated corpus to the
  * artifact a training job actually consumes: a deterministically
  * shuffled, leakage-safely split, token-budget-sharded dataset with a
  * verifiable manifest. (The reference stops at publishing curated
  * rasters + metadata; an LLM-data pipeline additionally has to hand the
  * corpus to a trainer, and these three properties — reproducible order,
  * no near-dup straddling train/eval, bounded shard sizes — are the
  * contract that step has to meet.)
  *
  * Everything is keyed on the engine-portable avalanche hash
  * ([[Sketches.portableHash]]), so each assignment is (a) deterministic
  * given (ids, seed) — two runs, or two engines, produce the same
  * shuffle order, splits, and shards — and (b) SQL-expressible, so the
  * DuckDB oracle replays the exact assignment, not a statistical
  * neighborhood of it. Determinism requires `idCol` to be UNIQUE (a
  * tie in the sort key would be ordered run-dependently); the prefix
  * scan verifies that for free and fails loudly on a duplicate.
  *
  * Scale shape: no stage concentrates the data, and the corpus rows move
  * through exactly ONE shuffle (the range repartition). The global order
  * and the running token sum both come from a two-job pass over the same
  * shuffled RDD — per-partition subtotals (a #partitions-long collect),
  * prefix-summed into broadcast offsets, then a per-partition scan. A
  * declarative `Window.partitionBy(partition_id)` would plan a SECOND
  * full-data hash exchange on top of the range shuffle; the imperative
  * pass is the [[Ids.assignIds]] idiom. Offsets come from the actual
  * partition contents, so results are independent of where the sampled
  * range boundaries land.
  */
object Assembly {

  /** Modulus of the portable hash family — mirrored verbatim in every
    * oracle (same literal as the suites' SQL replays). */
  private val P = 1000000007L

  private def shuffleHash(id: Column, seed: Long): Column =
    Sketches.portableHash(id + lit(seed))

  /** The scratch names every entry point reserves: a caller column with
    * one of these names would be silently clobbered and dropped, so the
    * guard fails fast instead (same discipline as the output-name
    * requires). */
  private def requireScratchFree(df: DataFrame, names: String*): Unit =
    names.foreach { n =>
      require(!df.columns.contains(n),
        s"input already has a column named the reserved scratch name $n")
    }

  /** Range-partitioned, within-partition-sorted view of `df` in the
    * deterministic order (portableHash(id + seed), id). Equal ids land
    * in one partition, adjacent — which makes the prefix scan's
    * duplicate check complete. */
  private def hashOrdered(df: DataFrame, idCol: String,
      seed: Long): DataFrame =
    df.withColumn("__h", shuffleHash(col(idCol), seed))
      .repartitionByRange(col("__h"), col(idCol))
      .sortWithinPartitions(col("__h"), col(idCol))

  /** Two jobs over ONE shuffled RDD (the second reuses the first's
    * shuffle files): per-partition (metric total, duplicate-id flag),
    * then each row's running prefix of `metric` mapped through `value`
    * into `outCol`. The duplicate check costs nothing extra and is
    * complete (equal ids are adjacent in one partition — see
    * [[hashOrdered]]); a duplicate would make the "same (ids, seed) →
    * same output" contract silently false, so it fails loudly here. */
  private def prefixScan(parted: DataFrame, idCol: String, outCol: String,
      metric: Row => Long)(value: Long => Long): DataFrame = {
    val spark = parted.sparkSession
    val idIdx = parted.schema.fieldIndex(idCol)
    val rdd = parted.rdd
    val perPart = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      var dup = false
      var first = true
      var prev: Any = null
      it.foreach { r =>
        val id = r.get(idIdx)
        if (!first && id == prev) dup = true
        prev = id
        first = false
        s += metric(r)
      }
      Iterator((i, s, dup))
    }.collect().sortBy(_._1)
    require(!perPart.exists(_._3),
      s"$idCol is not unique — a tied sort key would make the " +
        "deterministic order run-dependent")
    val offsets = spark.sparkContext.broadcast(
      perPart.map(_._2).scanLeft(0L)(_ + _))
    val schema = StructType(parted.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    val rows = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets.value(i)
      it.map { r =>
        val start = cum
        cum += metric(r)
        Row.fromSeq(r.toSeq :+ value(start))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Deterministic global shuffle: original columns plus `shuffle_pos` =
    * the row's 0-based rank by (portableHash(id + seed), id). Changing
    * the seed permutes the corpus; keeping it reproduces the exact
    * training order byte-for-byte — the property that makes a training
    * run resumable and a data ablation comparable. Fails loudly if
    * `idCol` has duplicates (rank ties would be run-dependent). */
  def deterministicShuffle(df: DataFrame, idCol: String,
      seed: Long): DataFrame = {
    require(!df.columns.contains("shuffle_pos"),
      "input already has a shuffle_pos column")
    requireScratchFree(df, "__h")
    prefixScan(hashOrdered(df, idCol, seed), idCol, "shuffle_pos",
      _ => 1L)(identity)
      .drop("__h")
  }

  /** Cumulative-fraction hash cutoffs in [0, P): a row whose hash lands
    * below `cutoffs(i)` and at/above `cutoffs(i-1)` takes split i. Long
    * literals (not floats) so the Spark plan and the oracle SQL compare
    * integers — no float-boundary drift between engines. */
  private[graft] def splitCutoffs(
      fractions: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(fractions.nonEmpty, "need at least one split")
    require(fractions.forall(_._2 > 0), "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    fractions.map(_._1).zip(cum.map(f => math.round(f * P)))
  }

  /** Leakage-safe train/val/test split: the unit of assignment is the
    * NEAR-DUP CLUSTER, not the document. Every member of a
    * [[Dedup.duplicateClusters]] cluster shares its representative
    * (the cluster's canonical min doc_id; unclustered docs represent
    * themselves), and the split is a pure hash of that representative —
    * so two near-identical documents can never land one in train and one
    * in eval, the leak a per-doc hash split (q49) cannot rule out.
    *
    * Output: (doc_id, cluster_rep, split). The cluster join ships only
    * (doc_id, cluster_id) pairs for CLUSTERED docs — at real dup rates a
    * small fraction of the corpus — and the assignment itself is one
    * hash + one when-chain, map-side.
    */
  def leakageSafeSplit(docs: DataFrame, textCol: String = "text",
      seed: Long = 0L,
      fractions: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      minEstJaccard: Double = 0.5): DataFrame = {
    requireScratchFree(docs, "__h", "cluster_rep", "split")
    val cuts = splitCutoffs(fractions)
    val clusters = Dedup.duplicateClusters(docs, textCol, minEstJaccard)
      .select(col("doc_id"), col("cluster_id"))
    val h = shuffleHash(col("cluster_rep"), seed)
    val splitExpr = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, cut), rest) => when(col("__h") < lit(cut), name)
        .otherwise(rest)
    }
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("__h", h)
      .select(col("doc_id"), col("cluster_rep"), splitExpr.as("split"))
  }

  /** Token-budget sharding: rows ordered by the deterministic shuffle
    * hash are cut into contiguous shards of ~`budget` tokens —
    * `shard_id = (starting token offset) div budget`, so every shard
    * except possibly the last spans at most `budget` tokens plus its one
    * boundary-straddling document. This is the "write N roughly-equal
    * training files" step, with the shard boundary a pure function of
    * (ids, token counts, seed) — reproducible and oracle-replayable.
    * Token counts must be non-null and non-negative (a NULL would NPE
    * deep in the scan, a negative would silently break contiguity and
    * diverge from the oracle's floor division) — both fail loudly, named.
    */
  def tokenBudgetShards(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long, seed: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(!df.columns.contains("shard_id"),
      "input already has a shard_id column")
    requireScratchFree(df, "__h", "__tok")
    val parted = hashOrdered(
      df.withColumn("__tok", col(tokensCol).cast("long")), idCol, seed)
    val tokIdx = parted.schema.fieldIndex("__tok")
    val tok: Row => Long = { r =>
      require(!r.isNullAt(tokIdx),
        s"NULL $tokensCol — token counts must be non-null")
      val t = r.getLong(tokIdx)
      require(t >= 0, s"negative $tokensCol ($t) — token counts must be >= 0")
      t
    }
    // start offset of the row → integer div (exact past 2^53, where a
    // double floor would wobble)
    prefixScan(parted, idCol, "shard_id", tok)(_ / budget)
      .drop("__h", "__tok")
  }

  /** Per-shard manifest: (shard_id, n_docs, n_tokens, checksum) with an
    * order-independent xor-of-portable-hashes membership checksum (the
    * [[Checksum]] idea, xor instead of sum so it can never overflow).
    * One map-side-combinable aggregate; verify a delivered shard by
    * recomputing its row from the shard's file alone. */
  def shardManifest(sharded: DataFrame, idCol: String,
      tokensCol: String): DataFrame =
    sharded
      .select(col("shard_id"),
        Sketches.portableHash(col(idCol)).as("__hid"),
        col(tokensCol).cast("long").as("__tok"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"),
        expr("bit_xor(__hid)").as("checksum"))

  private val MarkerPrefix = "_committed_v"

  /** Highest committed manifest version: `max N` over the
    * `_committed_vN` marker files. Markers are created AFTER their
    * `manifest_vN` is fully written, so the max always names a complete
    * manifest — a crash at any point leaves the previous marker (and
    * thus the previous consistent view) in place. */
  private def committedVersion(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String): Option[Long] =
    Commit.maxVersion(fs, outDir, MarkerPrefix)

  /** All numeric `_committed_vN` versions present (non-numeric suffixes
    * ignored — see [[Commit.versions]]). */
  private def markerVersions(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String): Seq[Long] =
    Commit.versions(fs, outDir, MarkerPrefix)

  /** (budget, seed) pinned at write time so appends cannot silently
    * shard with different parameters. */
  private def writeParams(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String, budget: Long, seed: Long): Unit = {
    val out = fs.create(new Path(outDir, "_params"), true)
    out.write(s"budget=$budget\nseed=$seed\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def readParams(fs: org.apache.hadoop.fs.FileSystem,
      outDir: String): (Long, Long) = {
    val in = fs.open(new Path(outDir, "_params"))
    val text = new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    in.close()
    val kv = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.toLong }.toMap
    (kv("budget"), kv("seed"))
  }

  /** Materialize the shards: parquet partitioned by `shard_id` under
    * `outDir/shards/`, a VERSIONED manifest at `outDir/manifest_vN/`,
    * and a `_committed_vN` marker created LAST — all through whatever
    * filesystem the URI's scheme resolves to (local, hdfs://, s3a://).
    *
    * Commit discipline (the [[VectorStore]] pointer pattern): readers
    * resolve the max `_committed_vN` marker to its manifest, and the
    * marker for a version is created only after that manifest is fully
    * written — one small exclusive file creation is the entire commit,
    * atomic on HDFS and object stores alike. A full rebuild first drops
    * the old markers (it is destroying the old shards anyway), writes
    * everything, then commits `maxOldVersion + 1`; a crash mid-way
    * leaves no marker, which [[readManifest]] and [[appendShards]]
    * refuse loudly. The manifest is computed from a read-back of the
    * files just written (one column-pruned scan), not from a second
    * evaluation of the sharding lineage — it describes what is actually
    * on disk. */
  def writeShards(df0: DataFrame, idCol: String, tokensCol: String,
      budget: Long, seed: Long, outDir: String): DataFrame = {
    val spark = df0.sparkSession
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    // the persisted takedown registry guards the shard store's ingest
    // exactly as it guards the retrieval stores' ([[Takedown.guard]]):
    // [[purgeDocs]] makes the committed shards forget, but without this
    // a REBUILD from the raw corpus — or an append of a re-delivered
    // batch — would silently re-export the purged text
    val df = Takedown.guard(df0, idCol, None, fs, outDir)
    val existing = markerVersions(fs, outDir)
    val v = existing.maxOption.map(_ + 1L).getOrElse(0L)
    // fail BEFORE the old markers die: a rebuild from an accidentally-
    // empty frame would otherwise destroy the committed view and then
    // crash on the empty read-back — a torn store where there was a
    // healthy one
    require(!df.isEmpty,
      s"writeShards: input is empty (or fully takedown-blocked) — " +
        s"refusing to replace the committed view at $outDir with an " +
        "empty rebuild")
    // full rebuild: old committed views die with the old shard files —
    // drop exactly the markers present (one listing, not 0..v deletes)
    existing.foreach(i =>
      fs.delete(new Path(outDir, s"$MarkerPrefix$i"), false))
    tokenBudgetShards(df, idCol, tokensCol, budget, seed)
      .write.mode("overwrite")
      // pin STATIC overwrite: under a session default of dynamic, a
      // rebuild to fewer shards would leave the old higher-numbered
      // shard dirs alive and commit them into the new manifest
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard_id")
      .parquet(s"$outDir/shards")
    val written = spark.read.parquet(s"$outDir/shards")
      .select(col("shard_id").cast("long").as("shard_id"),
        col(idCol), col(tokensCol))
    shardManifest(written, idCol, tokensCol)
      .write.mode("overwrite").parquet(s"$outDir/manifest_v$v")
    writeParams(fs, outDir, budget, seed)
    fs.create(new Path(outDir, s"$MarkerPrefix$v"), true).close()
    // GC stale manifest versions (post-commit; a crash here is harmless)
    fs.listStatus(new Path(outDir)).iterator.map(_.getPath)
      .filter(p => p.getName.startsWith("manifest_v") &&
        p.getName != s"manifest_v$v")
      .foreach(p => fs.delete(p, true))
    spark.read.parquet(s"$outDir/manifest_v$v")
  }

  /** Incremental export: a NEW batch (a nightly crawl after dedup) lands
    * as NEW shards — the batch is sharded among itself with the
    * directory's pinned (budget, seed) and its shard ids continue after
    * the committed maximum, so previously written shard files are never
    * rewritten (a trainer mid-run can keep streaming them) and the
    * manifest grows by the new rows.
    *
    * Safety: refuses a directory with no committed version (a torn
    * writeShards must be repaired by re-running writeShards, not
    * appended onto); refuses batch ids already COMMITTED (one
    * partition-pruned semi-join against shards `<=` the committed max —
    * a re-delivered batch would otherwise double tokens silently, while
    * a crashed append's own uncommitted shard dirs are invisible to the
    * check). The data write is a dynamic partition overwrite, so
    * replaying a crashed append overwrites exactly its own new shard
    * directories; the commit is the `_committed_v(N+1)` marker created
    * after `manifest_v(N+1)` lands, and readers keep resolving version N
    * until that instant. Post-commit, versions BEFORE N are GC'd —
    * version N itself is retained for one more append, so a reader that
    * resolved N just before the commit still finds `manifest_vN` on disk
    * (no read-after-resolve race). */
  def appendShards(dfNew: DataFrame, idCol: String, tokensCol: String,
      outDir: String): DataFrame =
    appendImpl(dfNew, idCol, tokensCol, outDir, checkOverlap = true)

  /** Max committed shard id as an Option — null-safe against an empty
    * manifest (agg(max) over zero rows yields one null row; a bare
    * getLong would NPE). One 1-row aggregate, never a manifest
    * collect. */
  private def maxShardId(manifest: DataFrame): Option[Long] =
    Option(manifest.agg(max(col("shard_id"))).head.get(0))
      .map(_.asInstanceOf[Long])

  /** [[appendShards]] body; `checkOverlap = false` skips the committed-
    * id scan when the caller ([[appendShardsExactlyOnce]]) has already
    * proven zero overlap — the scan is the append path's one full read
    * of the store and must not run twice per batch. */
  private def appendImpl(dfNew0: DataFrame, idCol: String,
      tokensCol: String, outDir: String,
      checkOverlap: Boolean): DataFrame = {
    val spark = dfNew0.sparkSession
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    // registry guard (see writeShards): a re-delivered purged id must
    // not re-enter the exported training data through the append path
    val dfNew = Takedown.guard(dfNew0, idCol, None, fs, outDir)
    val v = committedVersion(fs, outDir).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir has no committed version — not a completed shard " +
          "directory; appendShards refuses to extend a torn state"))
    val (budget, seed) = readParams(fs, outDir)
    // the committed manifest stays a LAZY scan end to end: its row count
    // grows linearly with corpus tokens (100 T tokens / 100 M budget =
    // 10^6 rows), so it is unioned below as a DataFrame, never
    // round-tripped through the driver; the only driver-side value is
    // the 1-row max aggregate
    val old = spark.read.parquet(s"$outDir/manifest_v$v")
    val nextShard = maxShardId(old).map(_ + 1L).getOrElse(0L)
    // heal: drop uncommitted shard dirs a crashed append left behind
    // (ids at/after the committed max — one directory listing), so even
    // a crashed append of a DIFFERENT batch cannot leak rows into this
    // append's manifest read-back
    val shardsRoot = new Path(s"$outDir/shards")
    if (fs.exists(shardsRoot))
      fs.listStatus(shardsRoot).iterator.map(_.getPath)
        .filter { p =>
          p.getName.startsWith("shard_id=") &&
            p.getName.stripPrefix("shard_id=").toLong >= nextShard
        }
        .foreach(p => fs.delete(p, true))
    // committed ids only: the filter prunes to committed shard dirs, so
    // a crashed append's leftover uncommitted dirs cannot block replay.
    // nextShard == 0 means NOTHING is committed (a fresh store, or one
    // a full-corpus purge emptied) — no overlap is possible, and the
    // scan would die in schema inference on the empty root
    if (checkOverlap && nextShard > 0) {
      val stored = spark.read.parquet(s"$outDir/shards")
        .filter(col("shard_id") < nextShard).select(col(idCol))
      require(dfNew.select(col(idCol))
          .join(stored, Seq(idCol), "left_semi").isEmpty,
        s"append batch contains $idCol values already stored in $outDir")
    }
    tokenBudgetShards(dfNew, idCol, tokensCol, budget, seed)
      .withColumn("shard_id", col("shard_id") + lit(nextShard))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard_id").parquet(s"$outDir/shards")
    val writtenNew = spark.read.parquet(s"$outDir/shards")
      .filter(col("shard_id") >= nextShard)
      .select(col("shard_id").cast("long").as("shard_id"),
        col(idCol), col(tokensCol))
    // safe to read manifest_v$v lazily while writing v+1: versions are
    // immutable once committed and v itself is retained by the GC below
    shardManifest(writtenNew, idCol, tokensCol).unionByName(old)
      .write.mode("overwrite").parquet(s"$outDir/manifest_v${v + 1}")
    fs.create(new Path(outDir, s"$MarkerPrefix${v + 1}"), true).close()
    // GC versions BEFORE v; v itself survives one more round so a
    // reader that resolved v a moment before this commit can still
    // open manifest_v$v (committedVersion takes the max, so the stale
    // marker never wins)
    markerVersions(fs, outDir).filter(_ < v).foreach { i =>
      fs.delete(new Path(outDir, s"$MarkerPrefix$i"), false)
      fs.delete(new Path(s"$outDir/manifest_v$i"), true)
    }
    spark.read.parquet(s"$outDir/manifest_v${v + 1}")
  }

  /** Per-source data recipe toward a total token budget — the
    * UP-sampling counterpart of [[Sampling.mixtureResample]]'s
    * downsampling: each weighted source gets
    * `target_tokens = budget * weight div sum(weights)`, met by
    * `epochs = target div available` FULL repeats of the source plus a
    * partial epoch sampled at `keep_ppm` parts-per-million (the exact
    * integer-arithmetic recipe a multi-epoch training mix needs when a
    * small high-quality source must repeat and a large one must not).
    * Everything is integer division on longs — the oracle replays it
    * literally. One narrow aggregate over the corpus plus a broadcast
    * of the weights; sources with zero available tokens plan zero
    * epochs rather than dividing by zero (the unmet target stays
    * visible in `rem_tokens`). Requires `sum(n_tokens) * 1e6 < 2^63`
    * (ppm scaling headroom — holds to ~9e12 tokens per source).
    *
    * Output: (source, n_docs, n_tokens, weight, target_tokens, epochs,
    * rem_tokens, keep_ppm), one row per WEIGHTED source. */
  def epochPlan(docs: DataFrame, sourceCol: String, tokensCol: String,
      weights: Seq[(String, Int)], budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate source keys in weights: ${weights.map(_._1)
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
        .mkString(", ")}")
    val wSum = weights.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toDF(sourceCol, "weight")
    // LEFT join FROM the weights: a weighted source with no corpus rows
    // must stay visible as a plan row (n=0, epochs=0, its whole target
    // in rem_tokens) — an inner join would silently vanish that share
    // of the budget. NULL token sums (all-NULL tokensCol) read as 0 for
    // the same reason.
    // the literal IN over the weighted keys pushes into the scan, and
    // bounds the aggregate (and its broadcast) to #weights rows even
    // when the corpus has unboundedly many unweighted sources
    w.join(broadcast(docs
        .filter(col(sourceCol).isin(weights.map(_._1): _*))
        .groupBy(col(sourceCol))
        .agg(count(lit(1)).as("__nd"),
          sum(col(tokensCol).cast("long")).as("__nt"))),
        Seq(sourceCol), "left")
      .withColumn("n_docs", coalesce(col("__nd"), lit(0L)))
      .withColumn("n_tokens", coalesce(col("__nt"), lit(0L)))
      .drop("__nd", "__nt")
      .withColumn("target_tokens",
        expr(s"(${budgetTokens}L * weight) div $wSum"))
      .withColumn("epochs", when(col("n_tokens") > 0,
        expr("target_tokens div n_tokens")).otherwise(lit(0L)))
      .withColumn("rem_tokens",
        col("target_tokens") - col("epochs") * col("n_tokens"))
      .withColumn("keep_ppm", when(col("n_tokens") > 0,
        expr("(rem_tokens * 1000000L) div n_tokens")).otherwise(lit(0L)))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("weight"), col("target_tokens"), col("epochs"),
        col("rem_tokens"), col("keep_ppm"))
  }

  /** Materialized data recipe: one output row per (document, epoch) —
    * every weighted doc appears in epochs 0..epochs-1, plus epoch
    * `epochs` iff its portable hash lands under the source's partial-
    * epoch `keep_ppm`. Deterministic in (ids, weights, budget, seed);
    * per-doc totals are exactly `epochs` or `epochs + 1`. The plan
    * (collected: one tiny row per weight) broadcasts back onto the
    * corpus and the repeat is a map-side `explode(sequence(...))` — the
    * corpus rows themselves never shuffle. `maxEpochs` bounds the
    * per-row repeat array the explode materializes: a mis-sized budget
    * against a tiny source would otherwise build multi-million-element
    * arrays per input row and OOM the executors — that is a config
    * error, failed loudly on the driver before any expansion runs.
    * Compose with [[deterministicShuffle]] on a composite id (e.g.
    * `id * (max_epochs + 1) + epoch`) for the final training order. */
  def expandEpochs(docs: DataFrame, sourceCol: String, idCol: String,
      tokensCol: String, weights: Seq[(String, Int)], budgetTokens: Long,
      seed: Long, maxEpochs: Long = 1000L): DataFrame = {
    requireScratchFree(docs, "epoch", "__maxe", "epochs", "keep_ppm")
    val planRows = epochPlan(docs, sourceCol, tokensCol, weights,
      budgetTokens).select(col(sourceCol), col("epochs"), col("keep_ppm"))
      .collect().toSeq
    planRows.foreach { r =>
      require(r.getLong(1) <= maxEpochs,
        s"source ${r.getString(0)} plans ${r.getLong(1)} epochs " +
          s"(> maxEpochs=$maxEpochs) — the budget/weight asks a tiny " +
          "source to repeat that many times; raise maxEpochs only if " +
          "you really mean it")
    }
    val spark = docs.sparkSession
    val plan = spark.createDataFrame(
      spark.sparkContext.parallelize(planRows),
      org.apache.spark.sql.types.StructType(Seq(
        StructField(sourceCol,
          org.apache.spark.sql.types.StringType, nullable = true),
        StructField("epochs", LongType, nullable = true),
        StructField("keep_ppm", LongType, nullable = true))))
    docs.join(broadcast(plan), Seq(sourceCol))
      .withColumn("__maxe",
        when(pmod(Sketches.portableHash(col(idCol) + lit(seed)),
            lit(1000000L)) < col("keep_ppm"), col("epochs"))
          .otherwise(col("epochs") - 1))
      .filter(col("__maxe") >= 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__maxe"))))
      .select(col(idCol), col(sourceCol), col("epoch"))
  }

  /** Exactly-once micro-batch append: classifies the batch against the
    * COMMITTED ids in one aggregate — ALL already committed means a
    * checkpoint replay of a batch whose commit landed, and no-ops
    * (returning the committed manifest); NONE committed appends; a
    * PARTIAL overlap is not a replay but a corrupted delivery (half a
    * batch re-keyed, or two producers sharing ids) and fails loudly.
    * A crash BEFORE the version flip replays into the all-new branch
    * (the uncommitted dirs heal), a crash AFTER the flip replays into
    * the no-op branch. */
  def appendShardsExactlyOnce(dfNew0: DataFrame, idCol: String,
      tokensCol: String, outDir: String): DataFrame = {
    require(idCol != "__in", "idCol may not be the reserved name __in")
    requireScratchFree(dfNew0, "__in")
    val spark = dfNew0.sparkSession
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    // guard BEFORE the replay classification: a batch that is
    // entirely takedown-blocked must classify as empty (no version
    // churn), and a mixed one must classify on its admissible ids only
    val dfNew = Takedown.guard(dfNew0, idCol, None, fs, outDir)
    val v = committedVersion(fs, outDir).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir has no committed version — run writeShards first"))
    val nextShard = maxShardId(spark.read.parquet(s"$outDir/manifest_v$v"))
      .map(_ + 1L).getOrElse(0L)
    // nextShard == 0: nothing committed (fresh store, or emptied by a
    // full-corpus purge) — every batch row is new by definition, and
    // the stored-side scan would die on the file-less root
    val (n, m) =
      if (nextShard == 0L)
        (dfNew.select(col(idCol)).distinct().count(), 0L)
      else {
        val stored = spark.read.parquet(s"$outDir/shards")
          .filter(col("shard_id") < nextShard)
          .select(col(idCol)).withColumn("__in", lit(1))
        val counts = dfNew.select(col(idCol)).distinct()
          .join(stored, Seq(idCol), "left")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("__in"), lit(0))).as("m")).head
        (counts.getLong(0),
          Option(counts.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      }
    if (n == 0) readManifest(spark, outDir) // empty batch: no version churn
    else if (m == n) readManifest(spark, outDir) // committed replay
    else if (m == 0)
      // overlap just proven zero — the internal path skips re-proving it
      appendImpl(dfNew, idCol, tokensCol, outDir, checkOverlap = false)
    else throw new IllegalArgumentException(
      s"batch overlaps the committed store on $m of $n ids — neither a " +
        "replay nor new data; refusing to guess")
  }

  /** Shard-store QA sweep — the "verify a delivered dataset" workflow
    * the manifest exists for: recompute every committed shard's
    * (n_docs, n_tokens, xor-checksum) from the FILES in one distributed
    * column-pruned scan and compare to the committed manifest. Failures
    * are error-as-data rows (the P7 discipline — one corrupted shard
    * must not kill the sweep of a million): `ok=false` with a named
    * reason (`missing files` when nothing readable remains under the
    * shard's directory, `content mismatch` when counts or checksum
    * drifted). Uncommitted dirs above the committed max are a legal
    * pending append and are not scanned. */
  def validateShards(spark: SparkSession, outDir: String, idCol: String,
      tokensCol: String): DataFrame = {
    val manifest = readManifest(spark, outDir)
    // an EMPTY committed manifest is legal — a purge that took down the
    // whole corpus commits one (the store remembers nothing, correctly);
    // there is nothing to validate, and the bare max would be null
    val maxShardOpt = maxShardId(manifest)
    if (maxShardOpt.isEmpty)
      return manifest.select(col("shard_id"), col("n_docs"),
        col("n_tokens"), lit(true).as("ok"), lit("ok").as("reason"))
    val maxShard = maxShardOpt.get
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    val shardsRoot = new Path(s"$outDir/shards")
    // error-as-data all the way down: a store whose shards/ vanished
    // ENTIRELY (the total-loss case the sweep exists for) must report
    // every row missing, not die in the parquet reader
    val anyShards = fs.exists(shardsRoot) &&
      fs.listStatus(shardsRoot).exists(
        _.getPath.getName.startsWith("shard_id="))
    val recomputed =
      if (!anyShards)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("shard_id", LongType, nullable = true),
            StructField("__rd", LongType, nullable = true),
            StructField("__rt", LongType, nullable = true),
            StructField("__rc", LongType, nullable = true))))
      else shardManifest(
        spark.read.parquet(s"$outDir/shards")
          .filter(col("shard_id") <= maxShard)
          .select(col("shard_id").cast("long").as("shard_id"),
            col(idCol), col(tokensCol)),
        idCol, tokensCol)
        .select(col("shard_id"), col("n_docs").as("__rd"),
          col("n_tokens").as("__rt"), col("checksum").as("__rc"))
    manifest.join(recomputed, Seq("shard_id"), "left")
      .withColumn("__match",
        col("__rd") === col("n_docs") && col("__rt") === col("n_tokens")
          && col("__rc") === col("checksum"))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        when(col("__rd").isNull, lit(false)).otherwise(col("__match"))
          .as("ok"),
        when(col("__rd").isNull, lit("missing files"))
          .when(col("__match"), lit("ok"))
          .otherwise(lit("content mismatch")).as("reason"))
  }

  /** The final training order — the composition the whole module exists
    * for: [[expandEpochs]] materializes the per-source repeat recipe,
    * each (doc, epoch) copy gets the collision-free composite
    * `sample_id = id * (maxEpochs + 1) + epoch` (epoch <= maxEpochs by
    * the expansion's own guard), and [[deterministicShuffle]] ranks the
    * samples globally — so two copies of the same document land in
    * unrelated positions (the hash avalanches the epoch), and the whole
    * stream is reproducible from (ids, weights, budget, seed). Output:
    * (id, source, epoch, shuffle_pos); feed ranges of shuffle_pos to
    * [[tokenBudgetShards]]-style consumers or stream it directly. */
  def trainingOrder(docs: DataFrame, sourceCol: String, idCol: String,
      tokensCol: String, weights: Seq[(String, Int)], budgetTokens: Long,
      seed: Long, maxEpochs: Long = 1000L): DataFrame = {
    requireScratchFree(docs, "sample_id")
    // the composite `id * (maxEpochs + 1) + epoch` silently wraps on
    // Long overflow (and the wrapped ids can collide — surfacing as a
    // baffling "shuffle_pos not unique" far downstream): validate the
    // id range up front with one column-pruned min/max agg and fail
    // with the overflow named
    val lim = Long.MaxValue / (maxEpochs + 1L)
    // integral ids only — a string or fractional id column would slip
    // through a blind long-cast (nulls / truncation) and mute exactly
    // the guard below, then build garbage composites downstream
    val idType = docs.schema(idCol).dataType
    val integral = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    require(integral,
      s"trainingOrder: $idCol must be an integral column for the " +
        s"composite sample_id arithmetic; got $idType")
    // cast (now lossless): an IntegerType id would otherwise come back
    // as a boxed Int here and CCE before the useful message
    val mm = docs.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long"))).head
    Seq(0, 1).foreach { i =>
      Option(mm.get(i)).map(_.asInstanceOf[Long]).foreach(id =>
        require(id > -lim && id < lim,
          s"trainingOrder: $idCol=$id overflows the composite " +
            s"sample_id = id * ${maxEpochs + 1} + epoch (|id| must stay " +
            s"below ${lim}); renumber ids or lower maxEpochs"))
    }
    val expanded = expandEpochs(docs, sourceCol, idCol, tokensCol,
        weights, budgetTokens, seed, maxEpochs)
      .withColumn("sample_id",
        col(idCol) * lit(maxEpochs + 1L) + col("epoch"))
    deterministicShuffle(expanded, "sample_id", seed)
      .select(col(idCol), col(sourceCol), col("epoch"),
        col("shuffle_pos"))
  }

  /** The manifest of the highest COMMITTED version. Refuses a directory
    * with no `_committed_vN` marker — no version ever committed (or a
    * torn full rebuild), and training on shards no manifest describes is
    * exactly the failure the marker exists to catch. A mid-append crash
    * is invisible here: the previous marker still resolves the previous
    * consistent manifest. */
  def readManifest(spark: SparkSession, outDir: String): DataFrame = {
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    val v = committedVersion(fs, outDir).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir has no _committed_vN marker — no completed " +
          "writeShards/appendShards run; any shards present are torn"))
    spark.read.parquet(s"$outDir/manifest_v$v")
  }

  /** Takedown purge at the TRAINING-SHARD store — the verb that closes
    * the compliance loop at the data a trainer actually reads: the two
    * retrieval layers can `delete`, but committed shards are immutable
    * by design ([[appendShards]] only ever adds), so without this a
    * taken-down doc's text lives in the exported parquet forever.
    *
    * What it does: find the committed shards that hold any of `ids`
    * (one column-pruned semi-join — each doc lives in exactly ONE
    * shard, so the affected set is bounded by the takedown list),
    * rewrite ONLY those shard directories with the ids dropped (every
    * untouched shard stays byte-identical — a trainer mid-epoch keeps
    * streaming them), recompute exactly the affected shards'
    * (n_docs, n_tokens, checksum) manifest rows from a read-back of
    * the rewritten files, and commit the result as the next
    * `_committed_vN` — the store's usual versioned-marker protocol.
    * A shard emptied entirely is deleted and its manifest row dropped.
    *
    * Crash safety: the affected-shard set is made durable FIRST as a
    * `#<count>`-sealed `_purge_pending` witness ([[Commit]] — the
    * landing-marker discipline): a crash mid-rewrite leaves shards
    * whose files no longer match the committed manifest, and a replay
    * keyed only on "which shards still hold the ids" would find
    * nothing (the rewrite already dropped them) and strand the stale
    * manifest forever. The replay unions the witness's shard ids back
    * in, re-rewrites them (idempotent — purging already-purged files
    * changes nothing), recommits, and clears the witness LAST. A
    * re-delivered purge whose commit landed finds no affected shards
    * and no witness → returns the committed manifest, writing nothing.
    * An [[appendShards]] interleaved between a crashed purge and its
    * replay commits versions that still carry the STALE manifest rows
    * for the rewritten shards (their files already forgot — the
    * compliance property holds; only the metadata lags, visible as
    * `content mismatch` in [[validateShards]]); the replay's recommit
    * then corrects them, appended rows included.
    *
    * Scale shape: the semi-join prunes on the manifest-committed max;
    * the rewrite reads only the affected shard DIRECTORIES (the isin
    * lands in PartitionFilters) and is materialized once
    * (localCheckpoint) because Spark refuses a plan that overwrites a
    * path it is also reading; everything else is untouched. Returns
    * the new committed manifest. */
  /** [[purgeDocs]]' affected-shard detection — the one full read of the
    * store the purge pays, and the floor of its cost: a semi-join that
    * reads ONLY (idCol, shard_id) of the committed shards. shard_id is
    * the partition column (free from the directory names) and the
    * committed-max filter lands in PartitionFilters, so the scan never
    * opens an uncommitted append's files and never reads a text byte
    * anywhere — at 100 TB this is ~0.1% of the store's bytes, vs the
    * full-rebuild alternative re-reading and re-writing everything
    * (the SCALE purge-vs-control pair). Package-visible so the spec
    * pins the PLAN, not just the numbers. */
  private[ops] def affectedShardScan(spark: SparkSession, outDir: String,
      purgeIds: DataFrame, idCol: String, maxShard: Long): DataFrame =
    // committed shards only: an in-flight append's uncommitted dirs are
    // not covered by any manifest yet — its own commit will exclude the
    // registered ids (the Takedown guard) or be purged by a later call
    spark.read.parquet(s"$outDir/shards")
      .filter(col("shard_id") <= maxShard)
      .join(purgeIds, Seq(idCol), "left_semi")
      .select(col("shard_id").cast("long")).distinct()

  def purgeDocs(spark: SparkSession, outDir: String, ids: DataFrame,
      idCol: String, tokensCol: String): DataFrame = {
    val fs = graft.wri.WriFs.fs(outDir,
      spark.sparkContext.hadoopConfiguration)
    val v = committedVersion(fs, outDir).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir has no committed version — nothing to purge from"))
    val manifest = spark.read.parquet(s"$outDir/manifest_v$v")
    val maxShardOpt = maxShardId(manifest)
    if (maxShardOpt.isEmpty) return manifest // empty store: nothing to purge
    val maxShard = maxShardOpt.get
    val pendingPath = new Path(outDir, "_purge_pending")
    val pending = Commit.readSealedIds(fs, pendingPath)
    val purgeIds = ids.select(col(idCol)).distinct()
    // a shards root with NO shard directories at all is legal mid-replay
    // (a full-corpus purge that crashed after deleting every emptied
    // dir but before its manifest commit) — a parquet read of it would
    // die in schema inference, and the replay must instead fall through
    // to the manifest recommit the crash interrupted
    val anyShards = fs.exists(new Path(s"$outDir/shards")) &&
      fs.listStatus(new Path(s"$outDir/shards"))
        .exists(_.getPath.getName.startsWith("shard_id="))
    val affectedNow =
      if (!anyShards) Set.empty[Long]
      else affectedShardScan(spark, outDir, purgeIds, idCol, maxShard)
        .collect().map(_.getLong(0)).toSet
    val affected = affectedNow ++ pending
    if (affected.isEmpty) return manifest // purge already committed
    // durable witness BEFORE the first rewrite (see docstring)
    Commit.writeSealedIds(fs, pendingPath, affected)
    // rewrite exactly the affected directories, ids dropped;
    // materialize first — the write overwrites the path being read
    val remaining: Set[Long] =
      if (!anyShards) Set.empty
      else {
        val purged = spark.read.parquet(s"$outDir/shards")
          .filter(col("shard_id").isin(affected.toSeq: _*))
          .join(purgeIds, Seq(idCol), "left_anti")
          .localCheckpoint(true)
        purged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard_id").parquet(s"$outDir/shards")
        // a dynamic overwrite only touches partitions PRESENT in its
        // data: a shard emptied entirely writes nothing, so its old
        // directory (still holding the taken-down text) must go
        // explicitly
        purged.select(col("shard_id").cast("long"))
          .distinct().collect().map(_.getLong(0)).toSet
      }
    (affected -- remaining).foreach(id =>
      fs.delete(new Path(s"$outDir/shards/shard_id=$id"), true))
    // manifest rows for the affected shards, recomputed from what is
    // actually on disk now; untouched rows carried over verbatim
    val rewritten =
      if (remaining.isEmpty) manifest.limit(0)
      else shardManifest(
        spark.read.parquet(s"$outDir/shards")
          .filter(col("shard_id").isin(remaining.toSeq: _*))
          .select(col("shard_id").cast("long").as("shard_id"),
            col(idCol), col(tokensCol)),
        idCol, tokensCol)
    manifest.filter(!col("shard_id").isin(affected.toSeq: _*))
      .unionByName(rewritten)
      .write.mode("overwrite").parquet(s"$outDir/manifest_v${v + 1}")
    fs.create(new Path(outDir, s"$MarkerPrefix${v + 1}"), true).close()
    // witness cleared LAST: a crash before this line replays the purge
    // (idempotently) instead of stranding a stale committed manifest
    fs.delete(pendingPath, false)
    fs.delete(new Path(outDir, "_purge_pending.tmp"), false)
    markerVersions(fs, outDir).filter(_ < v).foreach { i =>
      fs.delete(new Path(outDir, s"$MarkerPrefix$i"), false)
      fs.delete(new Path(s"$outDir/manifest_v$i"), true)
    }
    spark.read.parquet(s"$outDir/manifest_v${v + 1}")
  }
}
