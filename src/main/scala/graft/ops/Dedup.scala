package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for web-scale corpora.
  *
  * Scale design (100 TB intent):
  *  - exact dedup is a hash-groupBy: one shuffle on a 128-bit digest, with
  *    map-side partial aggregation;
  *  - MinHash-LSH and SimHash banding turn the O(n^2) all-pairs problem into
  *    an equi-join on band buckets (shuffle on bucket key, skew-resistant
  *    because bands distribute hot shingles across `numBands` keys);
  *  - exact n-gram Jaccard runs as a prefix-filtered similarity join
  *    (AllPairs / PPJoin family): only document pairs sharing a low-frequency
  *    "prefix" shingle are ever compared, which keeps the candidate join
  *    linear-ish in corpus size instead of quadratic.
  *
  * All signatures use one engine-portable hash family — polynomial folds
  * mod 1e9+7 with per-seed affine remixes (see [[seedHash]]) — so every
  * operator here is reproducible bit-for-bit in any engine with 64-bit
  * integer arithmetic (the DuckDB oracles replay them exactly).
  *
  * Production composition (measured on an 8x dup-cluster blow-up, `Dev
  * scale`): run [[exactDuplicates]] FIRST and near-dup only the cluster
  * canonicals — exact-dup clusters make every candidate join quadratic
  * in the cluster size (8 copies/doc turned 256 near-dup pairs into
  * 156k, with candidate fan-out to match), and the md5 groupBy removes
  * that entire blow-up for one cheap shuffle.
  */
object Dedup {

  private val P = 1000000007L

  /** Exact duplicate groups keyed by md5(text): digest, group size, and the
    * smallest doc_id as the canonical keeper. */
  def exactDuplicates(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))

  private def powMod(g: Long, e: Long): Long = {
    var r = 1L; var b = g % P; var x = e
    while (x > 0) {
      if ((x & 1L) == 1L) r = r * b % P
      b = b * b % P; x >>= 1
    }
    r
  }

  /** Per-seed multipliers/offsets: powers of 5, a primitive root of 1e9+7,
    * so consecutive seeds are multiplicatively decorrelated. A LINEAR
    * family (`a_s = (s+1)*c mod P`) is subtly broken for MinHash: then
    * `h_s(x) = (s+1)*(c*x mod P) + b_s`, and any gram whose `c*x mod P`
    * is small (< P/numHashes) minimizes EVERY seed without wraparound —
    * signature positions collapse to "which doc holds the smallest
    * c*x gram", yielding est_jaccard ~1 for near-disjoint docs (observed:
    * a 0.006-jaccard pair scored 0.8+). */
  def seedCoefA(n: Int): Seq[Long] =
    Seq.tabulate(n)(s => powMod(5L, s + 7L))
  def seedCoefB(n: Int): Seq[Long] =
    Seq.tabulate(n)(s => powMod(5L, s + 203L))

  /** Per-seed affine remix of a pre-hashed value:
    * `(a_s * x + b_s) mod P` with the power-of-primitive-root coefficient
    * tables above (passed as array literals; `s` is a 0-based int). Pure
    * 64-bit integer arithmetic (max intermediate ~1e18), identical in
    * Spark codegen and DuckDB lambdas. */
  private def seedHash(aArr: Column, bArr: Column, s: Column, x: Column): Column =
    (element_at(aArr, s + lit(1)) * x + element_at(bArr, s + lit(1))) % lit(P)

  /** MinHash signature over a (pre-hashed) shingle array: element s is the
    * minimum of `seedHash(s, shingle)` over the shingles.
    *
    * Shaped as ONE fold over the shingles (not `transform(seeds, seed ->
    * min over grams)`): Catalyst inlines the grams expression into lambda
    * bodies, and a per-seed lambda would re-evaluate the whole shingling
    * numHashes times per row — a measured ~60x slowdown at sf0.1. In the
    * fold, each shingle enters once and is remixed per seed with 3 integer
    * ops. Empty shingle sets yield the P sentinel (callers filter empty
    * docs). */
  def minHashSignature(grams: Column, numHashes: Int): Column =
    graft.functions.TextHashFunctions.minHashSig(grams,
      seedCoefA(numHashes), seedCoefB(numHashes))

  /** HOF reference implementation of [[minHashSignature]] (kept for the
    * native-vs-expression parity spec). */
  private[graft] def minHashSignatureHof(grams: Column, numHashes: Int): Column = {
    val aArr = typedLit(seedCoefA(numHashes))
    val bArr = typedLit(seedCoefB(numHashes))
    val init = transform(sequence(lit(0), lit(numHashes - 1)), _ => lit(P))
    aggregate(grams, init,
      (acc, x) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, s) => least(m, seedHash(aArr, bArr, s, x))))
  }

  /** Polynomial fold of a signature slice into one band-bucket key
    * (`(acc*131 + v) mod P`, seed 7 — same family as the shingle hashes). */
  private[graft] def bandBucket(sig: Column, band: Column, rows: Int, seed: Long,
      mul: Long): Column =
    aggregate(slice(sig, band * lit(rows) + lit(1), lit(rows)),
      lit(seed), (a, v) => (a * lit(mul) + v) % lit(P))

  /** MinHash-LSH candidate pairs: signatures are cut into `numBands` bands
    * of `numHashes/numBands` rows; docs sharing any band bucket become a
    * candidate pair, scored by signature agreement (estimated Jaccard).
    *
    * Output: doc_a < doc_b, est_jaccard in [0,1].
    *
    * `eager = true` (default) runs a Spark job AT CALL TIME: the bounded
    * pair result is materialized via localCheckpoint so the corpus-sized
    * signature cache can be released immediately (a leaked cache taxes
    * every later job in the session). The returned DataFrame is backed by
    * checkpoint blocks that live until it is unpersisted or GC'd —
    * callers that are done with the result can `.unpersist()` it (the
    * bench harness and the smoke-spec guardrail release stragglers via
    * `sparkContext.getPersistentRDDs`). `eager = false` keeps the plan
    * lazy and inspectable for plan-shape tests. Same contract for
    * [[simHashCandidatePairs]] and [[ngramJaccardPairs]].
    */
  def minHashCandidatePairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      minEstJaccard: Double = 0.5,
      maxBucketSize: Int = 50,
      eager: Boolean = true): DataFrame = {
    val rows = numHashes / numBands
    // persist: the banding lambda below references `sig`, and without a
    // materialization barrier CollapseProject would inline the whole
    // signature fold into the per-band lambda (numBands x recompute)
    val sigs = docs
      .select(col("doc_id"),
        TextAnalysis.hashedNgrams(col(textCol), n).as("grams"))
      .filter(size(col("grams")) > 0) // P sentinel sigs never pair
      .select(col("doc_id"), minHashSignature(col("grams"), numHashes).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0L), lit(numBands - 1L)),
        b => struct(b.as("band"),
          bandBucket(col("sig"), b, rows, 7L, 131L).as("bucket")))).as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Skew guard: oversized buckets come from degenerate/boilerplate
    // shingles; scoring their quadratic pair blow-up is both useless and
    // the classic LSH hot-key failure at scale. Drop them. The count
    // window spills gracefully on a degenerate bucket (the reason the
    // guard is not a size() filter after the collect below).
    val sized = banded
      .withColumn("bsz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucketSize)
    // Pair generation per bucket list, not a bucket self-join (the
    // [[SparseSim.ngramCosinePairs]] shape): the surviving buckets are
    // bounded at maxBucketSize docs, so the <= bsz*(bsz-1)/2 ordered
    // pairs are generated in-memory after the ONE exchange the guard
    // window already paid — the groupBy reuses its (band, bucket)
    // partitioning — where the self-join recomputed the whole
    // banded+window pipeline per side and shuffled it again. A doc
    // appears once per (band, bucket) (bucket is a function of the
    // doc's signature band), so x < y enumerates exactly the join's
    // doc_a < doc_b pairs; the slim banded rows keep the 512-byte
    // signature out of the band shuffle entirely. Dedup (a doc pair can
    // share several bands) BEFORE joining the signatures back and the
    // O(numHashes) agreement scoring.
    val pairs = sized
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(flatten(transform(col("ds"), x =>
        transform(filter(col("ds"), y => y > x), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val scored = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
    // eager (default): materialize the bounded pair result and RELEASE
    // the corpus-sized signature cache — a leaked cache taxes every
    // later job in the session. eager=false keeps the plan inspectable.
    if (!eager) scored
    else {
      val out = scored.localCheckpoint(true)
      sigs.unpersist()
      out
    }
  }

  /** SimHash signature as an array of `numBits` 0/1 longs: bit j is set
    * when the frequency-weighted majority of token hashes have odd
    * `seedHash(j, token)` parity. One fold over the tokens with a
    * numBits-wide accumulator (same CollapseProject-safe shape as
    * [[minHashSignature]]); pure integer ops — no strings, no bin(). */
  def simHashSig(text: Column, numBits: Int = 64): Column =
    graft.functions.TextHashFunctions.simHashSig(
      TextAnalysis.tokenHashes(text), seedCoefA(numBits), seedCoefB(numBits))

  /** HOF reference implementation of [[simHashSig]] (kept for the
    * native-vs-expression parity spec). */
  private[graft] def simHashSigHof(text: Column, numBits: Int = 64): Column = {
    val aArr = typedLit(seedCoefA(numBits))
    val bArr = typedLit(seedCoefB(numBits))
    val th = TextAnalysis.tokenHashes(text)
    val zeros = transform(sequence(lit(0), lit(numBits - 1)), _ => lit(0L))
    val counts = aggregate(th, zeros,
      (acc, x) => zip_with(acc, sequence(lit(0), lit(numBits - 1)),
        (a, j) => a + (seedHash(aArr, bArr, j, x) % lit(2L)) * lit(2L) - lit(1L)))
    transform(counts, c => when(c > 0, lit(1L)).otherwise(lit(0L)))
  }

  /** Hamming distance between two equal-length 0/1 bit arrays (native
    * single-pass kernel; [[hammingHof]] is the expression reference). */
  def hamming(a: Column, b: Column): Column =
    graft.functions.TextHashFunctions.hamming(a, b)

  /** HOF reference implementation of [[hamming]] (parity spec). */
  private[graft] def hammingHof(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x =!= y), x => x))

  /** SimHash near-duplicate candidates: the 64 bits are banded into 4
    * 16-bit integer buckets; docs sharing any band join, then exact
    * Hamming distance filters to <= maxHamming. Buckets larger than
    * `maxBucketSize` are dropped whole — the same hot-key guard as
    * [[minHashCandidatePairs]]: a degenerate/boilerplate bucket of b
    * docs contributes b^2 candidate pairs, and one such bucket is the
    * difference between a bounded equi-join and a quadratic blow-up on
    * a templated corpus. */
  def simHashCandidatePairs(
      docs: DataFrame,
      textCol: String = "text",
      maxHamming: Int = 8,
      maxBucketSize: Int = 50,
      eager: Boolean = true): DataFrame = {
    val sh = docs.select(col("doc_id"), simHashSig(col(textCol)).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK) // barrier: see minHash note
    val banded = sh.select(col("doc_id"),
      explode(transform(sequence(lit(0L), lit(3L)), b =>
        struct(b.as("band"),
          bandBucket(col("sig"), b, 16, 0L, 2L).as("bucket")))).as("bb"))
      .select(col("doc_id"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("bsz") <= maxBucketSize)
    // in-memory pair generation from the bounded bucket list — see
    // [[minHashCandidatePairs]]: one exchange (reused by the groupBy)
    // instead of a bucket self-join that recomputes banding per side
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(flatten(transform(col("ds"), x =>
        transform(filter(col("ds"), y => y > x), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // before the O(64) hamming scoring
      .join(sh.select(col("doc_id").as("doc_a"), col("sig").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sig").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sha"), col("shb")).as("hamming"))
      .filter(col("hamming") <= maxHamming) match {
      // see minHashCandidatePairs: release the signature cache
      case v if !eager => v
      case v =>
        val out = v.localCheckpoint(true)
        sh.unpersist()
        out
    }
  }

  /** Connected components over an undirected edge list, by iterative
    * min-label propagation: every vertex starts labeled with its own id,
    * and each round replaces a label with the minimum label among the
    * vertex and its neighbors. Labels only decrease, so the total label
    * sum is a monotone convergence witness; the loop stops when a round
    * changes nothing. Rounds needed = graph diameter — near-dup clusters
    * are dense and shallow (diameter 2-4), so this converges in a handful
    * of distributed rounds even at corpus scale. Each round is one
    * shuffle (join on the neighbor key + groupBy min); `localCheckpoint`
    * truncates the growing lineage so round N's plan does not replay
    * rounds 1..N-1 (the classic iterative-DataFrame failure mode).
    *
    * Output: (id, cluster_id) with cluster_id = min vertex id reachable.
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
      dstCol: String = "doc_b"): DataFrame = {
    // materialize the edge list BEFORE mirroring it: union branches have
    // no common-subplan reuse, so without the barrier the (potentially
    // expensive) edge-producing pipeline would run once per direction.
    // The mirrored list is cached PRE-PARTITIONED on the probe key so
    // every round's join reuses that partitioning instead of
    // re-exchanging the edges per iteration (>= 2 rounds always run).
    val fwd = edges.select(col(srcCol).as("ea"), col(dstCol).as("eb"))
      .localCheckpoint(true)
    val e = fwd.union(fwd.select(col("eb"), col("ea")))
      .repartition(col("eb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("ea").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    var prevSum = labels.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    var converged = false
    while (!converged) {
      // min over (self ∪ neighbors) in ONE aggregation: the vertex's own
      // label rides the union instead of a second (labels ⟕ nbrMin) join
      // — identical result (least(lbl, min nbr_lbl), with label-less
      // vertices covered by the union branch), one exchange fewer per
      // round
      val next = e
        .join(labels.select(col("id").as("eb"), col("lbl")), "eb")
        .select(col("ea").as("id"), col("lbl"))
        .unionByName(labels)
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(true)
      val sum2 = next.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
      converged = sum2 == prevSum
      prevSum = sum2
      labels = next
    }
    e.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** End-to-end near-duplicate clustering: MinHash-LSH candidate pairs
    * (est_jaccard >= `minEstJaccard`) become edges, connected components
    * group transitively-linked docs into clusters, and the smallest
    * doc_id per cluster is the canonical keeper. This is the piece that
    * turns pairwise near-dup evidence into actual drop decisions — at
    * 100 TB the pair list is far too large to collect, so the clustering
    * itself must be distributed.
    *
    * Output: one row per clustered doc — (doc_id, cluster_id,
    * cluster_size, keep) with keep=1 on the canonical doc.
    */
  def duplicateClusters(docs: DataFrame, textCol: String = "text",
      minEstJaccard: Double = 0.5): DataFrame = {
    val cand = minHashCandidatePairs(docs, textCol,
      minEstJaccard = minEstJaccard)
    val labels = connectedComponents(cand.select(col("doc_a"), col("doc_b")))
    // cluster size as a count-over-window: one exchange of the (already
    // checkpointed) labels instead of the groupBy+join-back pair
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"),
        (col("id") === col("cluster_id")).cast("int").as("keep"))
  }

  /** Canonical corpus after near-dedup: the input minus every
    * non-canonical cluster member (composition of [[duplicateClusters]]
    * with a left-anti join — the actual "write the deduped dataset"
    * step of a training pipeline). */
  def canonicalCorpus(docs: DataFrame, textCol: String = "text",
      minEstJaccard: Double = 0.5): DataFrame = {
    val nonKeepers = duplicateClusters(docs, textCol, minEstJaccard)
      .filter(col("keep") === 0).select(col("doc_id"))
    docs.join(nonKeepers, Seq("doc_id"), "left_anti")
  }

  /** Benchmark decontamination: ids of training documents that share at
    * least one hashed word n-gram with any holdout document. Both sides
    * explode to (doc_id, gram) postings — the shuffle moves 16-byte
    * posting rows, never texts — and meet in an equi-semi-join on the
    * gram hash; holdout grams dedup before the join. Long n (default 8)
    * makes overlap mean verbatim leakage, not shared phrasing. */
  def contaminatedIds(docs: DataFrame, isHoldout: Column, n: Int = 8,
      textCol: String = "text"): DataFrame = {
    val grams = docs.select(col("doc_id"), isHoldout.as("is_holdout"),
      explode(TextAnalysis.hashedNgrams(col(textCol), n)).as("gram"))
    val holdoutGrams = grams.filter(col("is_holdout"))
      .select(col("gram")).distinct()
    grams.filter(!col("is_holdout"))
      .join(holdoutGrams, Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Bloom-broadcast decontamination — exact same result as
    * [[contaminatedIds]], different 100 TB shape. That semi-join
    * shuffles EVERY corpus posting to meet the holdout grams; here a
    * Bloom filter over the holdout's distinct grams (the eval set is
    * small by construction — benchmarks, not corpora) is built once and
    * broadcast, and corpus postings are pruned MAP-SIDE against it, so
    * only Bloom hits (true overlaps + fpp false positives) ever reach a
    * shuffle. Survivors are then verified with the exact semi-join over
    * that pruned sliver: Bloom filters have no false negatives, so
    * prune-then-verify returns exactly the semi-join's answer while the
    * corpus-sized side of the join disappears. The Bloom build uses
    * Spark's treeAggregate sketch (driver holds ONE filter of
    * ~1.2·n·ln(1/fpp) bits, not the gram set).
    *
    * Eager like [[SparseSim.ngramCosinePairs]]: the bounded ids-only
    * result is materialized via localCheckpoint and the holdout-gram
    * cache is released before returning. */
  def contaminatedIdsBloom(docs: DataFrame, isHoldout: Column, n: Int = 8,
      textCol: String = "text", fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.select(col("doc_id"), isHoldout.as("is_holdout"),
      explode(TextAnalysis.hashedNgrams(col(textCol), n)).as("gram"))
    val holdoutGrams = grams.filter(col("is_holdout"))
      .select(col("gram")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHoldout = math.max(holdoutGrams.count(), 1L)
    val bloom = holdoutGrams.stat.bloomFilter("gram", nHoldout, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val hits = grams.filter(!col("is_holdout"))
      .select(col("doc_id"), col("gram")).as[(Long, Long)]
      .mapPartitions { it =>
        val bf = bloomBc.value
        it.filter { case (_, g) => bf.mightContainLong(g) }
      }
      .toDF("doc_id", "gram")
    val out = hits.join(holdoutGrams, Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
      .localCheckpoint(eager = true)
    holdoutGrams.unpersist()
    bloomBc.destroy()
    out
  }

  /** Exact n-gram Jaccard near-duplicate pairs over the whole corpus,
    * computed as a prefix-filtered similarity join (AllPairs, Bayardo et
    * al.): with shingles in a canonical global order (ascending hash
    * value), any pair with jaccard >= t must share a shingle inside both
    * documents' first `|g| - ceil(t*|g|) + 1` sorted shingles, so only
    * those prefix postings are self-joined; a size-ratio predicate
    * (min/max >= t bounds jaccard from above) prunes inside the join.
    * Candidates are then verified exactly with a native sorted-merge
    * intersect over the full shingle arrays.
    *
    * Value order was chosen over the classic df-ascending order after
    * measuring both on templated corpora: df-ordering cost three extra
    * shuffles (df count, posting join, per-doc re-sort) and pruned only
    * ~30% more candidates, while verification is a cheap merge pass.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.05,
      eager: Boolean = true): DataFrame = {
    val (verified, grams) = ngramJaccardVerified(docs, textCol, n, threshold)
    if (!eager) verified
    else {
      val out = verified.localCheckpoint(true)
      grams.unpersist()
      out
    }
  }

  /** Eager [[ngramJaccardPairs]] that ALSO returns the ids of docs with
    * a nonempty shingle set, materialized from the same cached grams
    * before the cache is released — [[collapsedNgramJaccardPairs]]'s
    * within-group expansion needs exactly that set and would otherwise
    * re-tokenize the whole representative corpus to recompute it. */
  private[ops] def ngramJaccardPairsAndDocs(
      docs: DataFrame, textCol: String, n: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    val (verified, grams) = ngramJaccardVerified(docs, textCol, n, threshold)
    val pairs = verified.localCheckpoint(true)
    val docsWithGrams = grams.select(col("doc_id")).localCheckpoint(true)
    grams.unpersist()
    (pairs, docsWithGrams)
  }

  /** Shared body of the AllPairs join: returns the (lazy) verified pair
    * result plus the cached grams it reads from — the caller owns the
    * cache release. */
  private def ngramJaccardVerified(
      docs: DataFrame, textCol: String, n: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    // persist: reused by the prefix build and the two verification joins
    // (no common-subplan reuse across join sides). With eager=true
    // (default) the result — bounded: qualifying pairs only — is
    // materialized before returning and the corpus-sized grams cache is
    // RELEASED; a leaked grams cache taxes every subsequent job in the
    // session (measured 20x on the next operator in the 8x probe).
    // eager=false keeps the plan lazy/inspectable for plan tests.
    val grams = docs.select(col("doc_id"),
        array_sort(TextAnalysis.hashedNgrams(col(textCol), n)).as("grams"))
      .withColumn("gsz", size(col("grams")))
      .filter(col("gsz") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefixes = grams.select(col("doc_id"), col("gsz"),
      explode(slice(col("grams"), lit(1),
        (col("gsz") - ceil(col("gsz") * lit(threshold)) + lit(1)).cast("int")))
        .as("gram"))
    val a = prefixes.as("a"); val b = prefixes.as("b")
    val cand = a.join(b,
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
        // size-ratio prune: jaccard <= min(|A|,|B|)/max(|A|,|B|)
        col("a.gsz").cast("double") >= col("b.gsz") * threshold &&
        col("b.gsz").cast("double") >= col("a.gsz") * threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val verified = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("gsz").as("sza")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
        col("gsz").as("szb")), "doc_b")
      // single-pass merge intersect (arrays are sorted); materialized once
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextHashFunctions.sortedIntersectCount(
          col("ga"), col("gb")).cast("double").as("inter"),
        (col("sza") + col("szb")).as("tot"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (verified, grams)
  }

  /** Incremental near-dup join: which documents of a NEW BATCH are
    * near-duplicates of an EXISTING CORPUS — the nightly ingest shape.
    * At 100 TB a full-corpus AllPairs rerun per ingest is unpayable; the
    * asymmetric join scales with |batch| × posting-list fan-out instead,
    * and batch-internal / corpus-internal pairs are never generated (the
    * join sides come from different tables, so the candidate space is
    * strictly batch × corpus). Same prefix filter + size-ratio prune +
    * sorted-merge verification as [[ngramJaccardPairs]]; a batch doc can
    * match several corpus docs (dedup policy — keep best match, drop doc,
    * route to review — is the caller's).
    *
    * Output: (batch_doc, corpus_doc, jaccard >= threshold).
    * Eager contract as [[minHashCandidatePairs]]. */
  def incrementalNearDups(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.5,
      eager: Boolean = true): DataFrame = {
    def gramsOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        array_sort(TextAnalysis.hashedNgrams(col(textCol), n)).as("grams"))
      .withColumn("gsz", size(col("grams")))
      .filter(col("gsz") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def prefixesOf(g: DataFrame): DataFrame = g
      .select(col("doc_id"), col("gsz"),
        explode(slice(col("grams"), lit(1),
          (col("gsz") - ceil(col("gsz") * lit(threshold)) + lit(1)).cast("int")))
          .as("gram"))
    val cg = gramsOf(corpus)
    val bg = gramsOf(batch)
    val cand = prefixesOf(bg).as("b")
      .join(prefixesOf(cg).as("c"),
        col("b.gram") === col("c.gram") &&
        col("b.gsz").cast("double") >= col("c.gsz") * threshold &&
        col("c.gsz").cast("double") >= col("b.gsz") * threshold)
      .select(col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
      .dropDuplicates("batch_doc", "corpus_doc")
    val verified = cand
      .join(bg.select(col("doc_id").as("batch_doc"), col("grams").as("gb"),
        col("gsz").as("szb")), "batch_doc")
      .join(cg.select(col("doc_id").as("corpus_doc"), col("grams").as("gc"),
        col("gsz").as("szc")), "corpus_doc")
      .select(col("batch_doc"), col("corpus_doc"),
        graft.functions.TextHashFunctions.sortedIntersectCount(
          col("gb"), col("gc")).cast("double").as("inter"),
        (col("szb") + col("szc")).as("tot"))
      .select(col("batch_doc"), col("corpus_doc"),
        round(col("inter") / (col("tot") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    if (!eager) verified
    else {
      val out = verified.localCheckpoint(true)
      cg.unpersist(); bg.unpersist()
      out
    }
  }

  /** Exact-dup membership: every doc_id mapped to the smallest doc_id
    * sharing its exact text (rep_id). One min-over-window on the md5
    * digest — the cheap pass that must run BEFORE any near-dup analysis.
    * (The groupBy+join-back formulation this replaces computed the md5
    * of every text twice — once per join side — and paid two digest
    * exchanges where the window pays one.) A null text equals no other
    * text, so a null-text doc is its own singleton (rep_id = doc_id). */
  def exactDupMembership(docs: DataFrame, textCol: String = "text")
      : DataFrame =
    docs.select(col("doc_id"), md5(col(textCol).cast("binary")).as("__h"))
      .withColumn("rep_id",
        when(col("__h").isNull, col("doc_id")).otherwise(
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__h")))))
      .select(col("doc_id"), col("rep_id"))

  /** Near-dup pairs with exact duplicates collapsed first: AllPairs runs
    * on unique representatives only, and member pairs are reconstituted
    * afterwards through the membership table (jaccard is a function of
    * the shingle SET, so every member inherits its representative's
    * similarities; within-group pairs are jaccard 1.0 by construction).
    *
    * Output is row-identical to [[ngramJaccardPairs]] on the raw corpus.
    * The cost is not: on a corpus with duplication factor k the direct
    * join degrades ~quadratically in k (every posting list and every
    * candidate bucket is k-fold, and no prefix/size prune can separate
    * identical documents), while this composition pays one md5 shuffle
    * and keeps AllPairs at unique-corpus size — measured 30x on the 8x
    * worst-case probe (`Dev scale`). This ordering — exact collapse,
    * THEN near-dup — is how a 100 TB dedup pass must be run. */
  def collapsedNgramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.05): DataFrame = {
    // ONE materialization of the membership table: it feeds the reps
    // semi-join and BOTH reconstitution joins plus the within-group
    // expansion — four consumers with no common-subplan reuse, and every
    // recompute would pay a full md5 pass over the corpus texts. The
    // rows are (doc_id, rep_id) — 16 bytes/doc, metadata-sized.
    val members = exactDupMembership(docs, textCol).localCheckpoint(true)
    val reps = docs.join(
      members.filter(col("doc_id") === col("rep_id")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    // the AllPairs call also hands back which reps HAVE shingles — the
    // within-group arm needs that set, and recomputing it would
    // re-tokenize the whole representative corpus
    val (repPairs, repsWithGrams) =
      ngramJaccardPairsAndDocs(reps, textCol, n, threshold)
    // cross-group: every (memberA, memberB) for each qualifying rep pair
    val ma = members.select(col("rep_id").as("doc_a"), col("doc_id").as("ma"))
    val mb = members.select(col("rep_id").as("doc_b"), col("doc_id").as("mb"))
    val cross = repPairs.join(ma, "doc_a").join(mb, "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    // within-group: exact dups pair at jaccard 1.0 — but only when the
    // rep has a nonempty shingle set (shingle-less docs never pair in
    // the direct formulation either)
    val withGrams = repsWithGrams.select(col("doc_id").as("rep_id"))
    val gm = members.join(withGrams, "rep_id")
    val within = gm.select(col("rep_id"), col("doc_id").as("ma"))
      .join(gm.select(col("rep_id"), col("doc_id").as("mb")), "rep_id")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Substring-level duplication: the longest EXACT shared token span per
    * document pair (the signal behind span-granular dedup — documents can
    * share a verbatim paragraph while their whole-doc Jaccard stays low,
    * and whole-doc methods miss it).
    *
    * Mechanics: positional hashed 3-grams (the native kernel) meet in an
    * equi-join on the gram hash; a matching pair of positions lies on the
    * diagonal `pa - pb`, so maximal runs of consecutive positions within
    * one (pair, diagonal) ARE the shared spans — grouped with the classic
    * `pos - row_number` run-id trick, a span of r consecutive grams
    * covering r + 2 tokens. Corpus-frequent grams (df > `dfCap` docs)
    * are excluded before the join — the stop-gram guard that bounds the
    * candidate blowup exactly like [[graft.ops.SparseSim]]'s df cap; at
    * 100 TB every stage is a keyed shuffle on gram / pair keys, nothing
    * quadratic in the corpus.
    *
    * Output: (doc_a, doc_b, max_span_tokens, n_spans) for pairs sharing
    * a span of at least `minSpanTokens` tokens.
    *
    * Duplication caveat (measured, `Dev scale5`): on a corpus with heavy
    * exact duplication every shared gram's df multiplies by the dup
    * factor and the stop-gram cap suppresses everything (8x-duplicated
    * probe: 247 pairs -> 0). Compose with [[exactDupMembership]] first —
    * span-detect on representatives, reconstitute member pairs through
    * the membership table — the same collapse-first ordering as
    * [[collapsedNgramJaccardPairs]]. */
  def sharedSpanPairs(
      docs: DataFrame,
      minSpanTokens: Int = 5,
      dfCap: Int = 10,
      textCol: String = "text",
      eager: Boolean = true): DataFrame = {
    require(minSpanTokens >= 3, s"3-gram spans need minSpanTokens >= 3")
    // positional occurrence-keeping grams: posexplode BEFORE the null
    // filter so positions stay corpus positions (the distinct kernel
    // would renumber the moment a doc repeats a gram).
    // Cached (eager default): the occurrence postings feed BOTH the df
    // count and the semi-join's probe side, and the CAPPED postings feed
    // both sides of the diagonal self-join — without the two caches the
    // corpus tokenizes four times per call (measured: the dominant cost
    // at sf0.1). Both caches are released before returning, after the
    // bounded pair result is materialized (the [[minHashCandidatePairs]]
    // eager contract); eager=false keeps the plan lazy/inspectable.
    val grams0 = docs.select(col("doc_id"),
        posexplode(TextAnalysis.hashedNgramOccurrences(col(textCol), 3))
          .as(Seq("pos", "g")))
      .filter(col("g").isNotNull)
    val grams =
      if (eager) grams0.persist(StorageLevel.MEMORY_AND_DISK) else grams0
    // df is countDistinct, which Spark plans as a two-phase aggregate
    // keyed on (g, doc_id) first — a hot gram's occurrences spread over
    // many tasks in that phase, so the count itself is skew-safe; the
    // semi-join's exchange of the occurrences is the remaining skew
    // exposure and AQE's skew-join handling can split it (a window-over-g
    // df cap could not be split — the reason this stays a semi-join)
    val rareG = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= dfCap)
      .select(col("g"))
    val rare0 = grams.join(rareG, Seq("g"), "left_semi")
    val rare =
      if (eager) rare0.persist(StorageLevel.MEMORY_AND_DISK) else rare0
    // NOTE: this deliberately stays a posting self-join, NOT the
    // collect_list pair generation used by SparseSim.ngramCosinePairs.
    // There the per-gram list holds one (doc, tf) entry per document —
    // bounded by the df cap. Here it would hold every OCCURRENCE: the
    // df cap bounds distinct docs, not repetitions, so one gram repeated
    // heavily inside few docs balloons a single task's in-memory list
    // while the self-join streams the same pairs through sort-merge
    // (and measured no faster locally: 4.2 s vs 2.8 s at sf0.1).
    val matches = rare
      .select(col("doc_id").as("doc_a"), col("pos").as("pa"), col("g"))
      .join(rare.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"),
        (col("pa") - col("pb")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    val out = matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + lit(2L)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_tokens")).as("max_span_tokens"),
        count(lit(1)).as("n_spans"))
    if (!eager) out
    else {
      val o = out.localCheckpoint(true)
      rare.unpersist()
      grams.unpersist()
      o
    }
  }

  /** Corpus-level repeated-span REMOVAL — the rewrite stage behind
    * "deduplicate exact substrings across the training corpus", beyond
    * [[sharedSpanPairs]]'s pair detection: every `spanTokens`-token
    * window whose fingerprint occurs in at least `minDocs` DISTINCT
    * documents is a repeated span; its first occurrence in corpus order
    * (smallest (doc_id, position)) is KEPT and every other occurrence is
    * cut from its document — one copy of boilerplate/licence/quote
    * blocks survives, the rest of the corpus stops re-teaching them.
    *
    * Deterministic and engine-portable end to end: fingerprints are the
    * positional L-gram polynomial folds ([[TextAnalysis.hashedNgramOccurrences]],
    * same family as every other hash here), the keeper is a total-order
    * argmin, and a token is removed iff ANY removed occurrence covers
    * it — so the DuckDB oracle replays the rewrite exactly.
    *
    * Intra-document repetition alone does NOT trigger removal
    * (`minDocs` counts distinct docs; per-doc repetition is
    * [[TextAnalysis.repetitionFeatures]]' domain) — but once a span IS
    * corpus-repeated, all its non-keeper occurrences are cut, including
    * extra copies inside the keeper's own document.
    *
    * Scale shape: the corpus tokenizes map-side; everything shuffled is
    * 16-byte (fingerprint, doc, pos) rows keyed on the fingerprint, the
    * keeper window runs only over REPEATED fingerprints' occurrences,
    * and span starts rejoin documents keyed on doc_id — the text itself
    * shuffles exactly once (that join). The per-document rewrite first
    * MERGES the sorted cut starts into disjoint [s, e) intervals (one
    * fold), so the per-token coverage test scans intervals, not raw cut
    * positions: a fully-boilerplate document has ~tokens cut starts but
    * ONE merged interval — without the merge that row's rewrite is
    * O(tokens x cuts). Nothing is quadratic; no driver-side state.
    *
    * Output: (doc_id, clean_text, removed_tokens) for EVERY input doc.
    */
  def removeRepeatedSpans(
      docs: DataFrame,
      spanTokens: Int = 8,
      minDocs: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(spanTokens >= 2, s"spanTokens=$spanTokens must be >= 2")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (an intra-doc " +
      "repeat is not corpus duplication)")
    val L = spanTokens
    val occ = docs.select(col("doc_id"),
        posexplode(TextAnalysis.hashedNgramOccurrences(col(textCol), L))
          .as(Seq("pos", "g")))
      .filter(col("g").isNotNull)
    val repeated = occ.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("doc_id"), col("pos"))
    val cuts = occ.join(repeated, Seq("g"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("cut_starts"))
    // merge the sorted cut starts into disjoint [s, e) intervals: starts
    // arrive ascending, so each either extends the last interval
    // (s <= last.e — overlap/adjacency) or opens a new one
    val mergedIvs = aggregate(
      sort_array(col("cuts")),
      expr("cast(array() as array<struct<s:int,e:int>>)"),
      (acc, c) => {
        val last = get(acc, size(acc) - 1)
        when(size(acc) > 0 && last.getField("e") >= c,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"), (c + lit(L)).as("e")))))
          .otherwise(concat(acc,
            array(struct(c.as("s"), (c + lit(L)).as("e")))))
      })
    docs.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        split(col(textCol), " ").as("toks"),
        coalesce(col("cut_starts"), array().cast("array<int>"))
          .as("cuts"))
      .select(col("doc_id"), col("toks"), mergedIvs.as("ivs"))
      .select(col("doc_id"),
        filter(col("toks"), (_, i) =>
          !exists(col("ivs"), v =>
            v.getField("s") <= i && i < v.getField("e"))).as("kept"),
        size(col("toks")).as("ntok"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (col("ntok") - size(col("kept"))).as("removed_tokens"))
  }
}
