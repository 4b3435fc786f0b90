package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Extended training-data-pipeline queries (dedup, similarity, text
  * analysis) over `documents` / `embeddings` — SparkEntry entries with
  * DuckDB oracles where expressible.
  */
object ExtPipelines {

  /** Recursive delete of a per-invocation temp artifact (index copies,
    * stream sinks): every Verify dump and bench rep creates one, and
    * it must not accumulate in /tmp across rounds. One closed-resource
    * call (the earlier per-site Files.walk copies leaked the walk
    * stream until GC). */
  private def deleteTempTree(root: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

  /** Collision-resistant key for per-input-dir memoized artifact paths
    * (x24b labels, x26b index, x29 CC, s17 index). String.hashCode is
    * 32 bits: two distinct input dirs colliding onto one fixed /tmp
    * path would make the second dir's BuildOnce memo silently reuse or
    * overwrite the first dir's artifact — wrong served results, not a
    * failure. An MD5 prefix (64 hex bits here) makes an accidental
    * collision astronomically unlikely, and path-shape stays short. */
  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** EXACT multiset equality of two same-schema frames in ONE action —
    * the identity-pin comparator every audit verb runs. Each side
    * reduces to (row-values → multiplicity) with a partially-aggregated
    * groupBy, the two count tables full-outer join NULL-SAFELY on the
    * value columns, and any multiplicity mismatch (including a row
    * present on only one side, whose missing count coalesces to 0)
    * refutes equality; `isEmpty` short-circuits at the first mismatch.
    * Two multisets are equal iff every value's multiplicity matches, so
    * this returns EXACTLY the same boolean as the previous
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` form — which
    * planned TWO actions, each scanning BOTH inputs through the
    * union+replicate ExceptAll rewrite (guide §1.2/§2.3: one pass where
    * one pass suffices; aggregate early so the join sees one row per
    * distinct value, not every duplicate). */
  private[graft] def multisetEq(a: DataFrame, b: DataFrame): Boolean = {
    // exceptAll refuses frames whose columns differ; so does this, by
    // name and type (nullability aside), instead of silently comparing
    // only a's columns
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString)
    require(shape(a) == shape(b),
      s"multisetEq needs equal schemas, got ${shape(a)} vs ${shape(b)}")
    val cols = a.columns.toSeq
    // count columns named apart from every input column (Spark resolves
    // names case-insensitively)
    def fresh(stem: String) = Iterator.from(0).map(i => s"$stem$i")
      .find(n => !cols.exists(_.equalsIgnoreCase(n))).get
    val (ca, cb) = (fresh("__ca"), fresh("__cb"))
    val ac = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as(ca))
      .alias("l")
    val bc = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as(cb))
      .alias("r")
    val cond = cols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
    ac.join(bc, cond, "full_outer")
      .filter(coalesce(col(ca), lit(0L)) =!= coalesce(col(cb), lit(0L)))
      .isEmpty
  }

  // ---- dedup ----

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, dir))

  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupKeepFirst(Tables.documents(spark, dir)).select("doc_id", "source")

  /** Jaccard near-dup with the frequent-shingle skew cap ON — the form
    * that survives hot shingles at 100 TB. Semantics-preserving here:
    * max shingle df is 7 at sf0.01 / 25 at sf0.1, far under the cap, so
    * the exact-jaccard oracle still applies (DedupSpec pins cap-on ≡
    * cap-off on non-skewed data). */
  def neardupJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), n = 3, threshold = 0.5,
      maxShingleDf = Some(100))

  /** x27: asymmetric containment pairs — the quote/boilerplate
    * modality; see [[graft.ext.Dedup.containmentPairs]]. Cap OFF here
    * for exact-oracle parity (same rationale as x3's; the capped form
    * is pinned ≡ uncapped on this corpus in ExtSpec). */
  def containmentDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), n = 3,
      threshold = 0.6, minShingles = 10)

  def neardupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(spark, dir), n = 3, threshold = 0.5)

  def neardupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables.embeddings(spark, dir), threshold = 0.4)

  def simhashDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(spark, dir), maxDist = 3)

  /** x23: edit-distance near-dup on the 32-char normalized head — the
    * exact all-pairs oracle form; see
    * [[graft.ext.Dedup.editDistanceNearDups]] for the blocked 100 TB
    * twin (SimHash/MinHash candidates + this verify). */
  def editDistNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDups(Tables.documents(spark, dir), maxDist = 4)

  /** x23b: PassJoin segment-blocked twin of x23 — zero recall loss by
    * pigeonhole (a theorem, not a tuned-recall claim), so it shares
    * x23's exact oracle the way x4 shares x3's. */
  def editDistNearDupsBlocked(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDupsBlocked(Tables.documents(spark, dir), maxDist = 4)

  /** x25: brand-blocked Jaro-Winkler fuzzy part-name matching —
    * see [[graft.ext.Dedup.jaroWinklerPairs]] for the bit-exactness
    * and block-size scale arguments. The exact all-pairs oracle form;
    * [[jaroWinklerNameMatchBlocked]] (x25b) is the production twin. */
  def jaroWinklerNameMatch(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaroWinklerPairs(Tables(spark, dir, "part"),
      idCol = "p_partkey", nameCol = "p_name", blockCol = "p_brand",
      threshold = 0.9)

  /** x25b: the sub-quadratic twin of x25 — identical-name hash-group
    * fast path + zero-loss prefix-filtered distinct-name verify + id
    * expansion, sharing x25's exact oracle the way x23b shares x23's.
    * See [[graft.ext.Dedup.jaroWinklerPairsBlocked]] for the soundness
    * chain and the 100 TB argument. */
  def jaroWinklerNameMatchBlocked(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaroWinklerPairsBlocked(Tables(spark, dir, "part"),
      idCol = "p_partkey", nameCol = "p_name", blockCol = "p_brand",
      threshold = 0.9)

  def neardupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupsLsh(Tables.embeddings(spark, dir), threshold = 0.4)

  /** t17: deterministic pre-shuffled shard assignment for training
    * export — the query form of [[graft.sources.JsonlShardSink]]'s
    * layout (shard = salted-md5 bucket, pos = within-shard rank). */
  def shuffledShards(spark: SparkSession, dir: String): DataFrame =
    graft.ext.DataSplit.shuffledShards(
        Tables.documents(spark, dir), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")

  /** x15: SemDeDup-style clustered semantic dedup at oracle-parity
    * settings (assignment-only clustering, md5-drawn seed centroids —
    * see [[graft.ext.Dedup.semanticDedup]]). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(spark, dir),
      nClusters = 8, eps = 0.4, nIters = 0)

  /** Dup clusters: transitive closure of the jaccard near-dup pairs,
    * labeled by component-minimum doc id — the artifact a dedup pass
    * actually deletes against (pair similarity is not transitive). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.jaccardPairs(Tables.documents(spark, dir), n = 3, threshold = 0.5,
        maxShingleDf = Some(100)))

  /** x24: the dedup DECISION APPLIED — the surviving corpus after
    * keeping each x9 cluster's canonical (minimum-id) member and
    * dropping the rest; docs in no cluster survive untouched. The
    * missing last step of the dedup story (x3/x4 find pairs, x9 labels
    * closures, THIS deletes): a delta-sized left-anti join of the
    * corpus against the non-canonical cluster members — the corpus
    * never shuffles on content, only ids.
    *
    * Self-contained oracle form: recomputes x9's connected components
    * inline, so its cost is dominated by the CC recompute. A production
    * pipeline persists the cluster labels ONCE and applies them many
    * times — that shape is [[dedupApplyPersisted]] (x24b, same oracle),
    * where the apply is just a label read + left-anti join. */
  def dedupApplyClusters(spark: SparkSession, dir: String): DataFrame = {
    val losers = dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
  }

  /** Memoized per-JVM label store for [[dedupApplyPersisted]]: one
    * FIXED path per input dir, written once per JVM with overwrite —
    * repeated runs reuse it (the bench's warmup rep absorbs the build,
    * the g20 pattern) and reruns across JVMs overwrite rather than
    * accumulate (the v12 hygiene rule). [[graft.ext.BuildOnce]] keyed:
    * the build writes parquet to a fixed path, so two concurrent first
    * calls must not both run it. */
  private val x24bLabels = new graft.ext.BuildOnce[String, String]

  /** x24b: the PRODUCTION dedup-apply — x9's cluster labels persisted
    * to parquet once, then the corpus cleaned by a label read + a
    * delta-sized left-anti join. Same result and oracle as x24; the
    * difference is WHERE the CC cost lives. At 100 TB the labels are
    * a per-snapshot artifact written by the dedup job and applied by
    * every downstream consumer — recomputing the closure per consumer
    * (x24's self-contained shape) multiplies the most expensive stage
    * of the pipeline by its fan-out; reading a doc_id-only parquet
    * multiplies a metadata-scale scan. */
  /** The persisted x9 cluster-label artifact, built once per JVM and
    * read by every downstream consumer (x24b's apply, x28's audit). */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = x24bLabels(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_x24b_labels_${dirKey(dir)}"
      dedupClusters(spark, dir).write.mode("overwrite").parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  def dedupApplyPersisted(spark: SparkSession, dir: String): DataFrame = {
    val losers = clusterLabels(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
  }

  /** Memoized per-JVM store for [[ccIncremental]] (x29): the standing
    * label artifact and the delta pair list, split deterministically
    * from the x9 pair set (~15% of pairs by pair-keyed xxhash64) and
    * written once per JVM — the x24b pattern, so the bench's warmup
    * rep absorbs the standing CC build and the timed reps measure the
    * INCREMENTAL maintenance path only (which is the production shape:
    * the standing labels are yesterday's persisted artifact, the delta
    * pairs come from today's batch). [[graft.ext.BuildOnce]] keyed:
    * the build issues overwrite parquet writes to a fixed path, so
    * two concurrent first calls must not both run it (the same
    * non-atomicity `TrieMap.getOrElseUpdate` had here before). */
  private val x29Store = new graft.ext.BuildOnce[String, String]

  /** x29 — incremental connected-components maintenance: patch a
    * standing cluster-label set with a delta batch of near-dup pairs
    * via [[graft.ext.Dedup.connectedComponentsIncremental]] (CC runs
    * only on the CONTRACTED delta graph; the standing labels are
    * scanned twice through gated-broadcast joins and never shuffled).
    * The oracle is the strongest one available: the patched labels
    * must equal a full recursive-CTE recompute over ALL pairs —
    * standing ∪ delta — exactly, row for row. */
  def ccIncremental(spark: SparkSession, dir: String): DataFrame = {
    val root = x29Store(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_x29_cc_${dirKey(dir)}"
      import org.apache.spark.storage.StorageLevel
      val pairs = Dedup.jaccardPairs(Tables.documents(spark, dir), n = 3,
        threshold = 0.5, maxShingleDf = Some(100))
        .withColumn("_delta",
          pmod(xxhash64(col("a_id"), col("b_id"), lit("x29")), lit(100)) < 15)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        Dedup.connectedComponents(pairs.filter(!col("_delta")))
          .write.mode("overwrite").parquet(s"$p/labels")
        pairs.filter(col("_delta")).select("a_id", "b_id")
          .write.mode("overwrite").parquet(s"$p/delta")
      } finally pairs.unpersist(blocking = false)
      p
    }
    Dedup.connectedComponentsIncremental(
      spark.read.parquet(s"$root/labels"),
      spark.read.parquet(s"$root/delta"))
  }

  /** x28 — dedup AUDIT report: the numbers a data engineer checks
    * after a dedup pass — the cluster-size histogram over x9's
    * near-dup clusters plus the singleton row (docs untouched by any
    * near-dup pair), so the histogram PARTITIONS the corpus exactly:
    * Σ cluster_size · n_clusters = |documents| (spec-pinned). Runs off
    * the x24b persisted labels (built once per JVM, metadata-scale
    * read — the production fan-out shape: the audit is a downstream
    * consumer of the dedup job's label artifact, not a recompute);
    * output is O(distinct cluster sizes) rows. CC clusters always have
    * ≥ 2 members (every edge labels both endpoints), so the size-1 row
    * can never collide with a histogram row. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val hist = labels.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(spark, dir).select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    hist.select(col("cluster_size").cast("long"), col("n_clusters"))
      .unionByName(singles)
  }

  /** Decontamination: 3-gram overlap between the t7 train/test split's
    * halves — every (test, train) pair sharing ≥5 distinct 3-grams.
    * Skew cap on the train side (semantics-preserving at this scale,
    * same argument as x3). */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    Dedup.contaminationPairs(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"),
      n = 3, minShared = 5, maxShingleDf = Some(100))
  }

  /** x16: incremental ingest dedup at x10's split — the t7 train bucket
    * plays the existing corpus, the test bucket plays the day's new
    * batch; admitted = batch minus exact/near dups of the corpus and
    * intra-batch exact dups (see [[graft.ext.Dedup.incrementalIngest]]). */
  def incrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    Dedup.incrementalIngest(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"),
      n = 3, minShared = 5, maxShingleDf = Some(100))
  }

  /** x17: sketch-based incremental ingest at x16's split — the same
    * corpus/batch framing, with the corpus membership test served by a
    * broadcast Bloom filter instead of a join
    * ([[graft.ext.Dedup.bloomIngest]]). Engine-specific bit positions
    * ⇒ rows-only driver check; x17b is the oracle-checked bound. */
  def bloomIngest(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    Dedup.bloomIngest(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "test"))
  }

  /** x26: persisted MinHash-LSH index ingest at x16's split — the
    * train bucket is signed ONCE into a stored index
    * ([[graft.ext.Dedup.saveMinhashIndex]]: band-partitioned bucket
    * keys + shingles + sizes), and the test bucket ingests against the
    * STORED frames ([[graft.ext.Dedup.nearDupIngest]]) without
    * re-shingling the standing corpus — the daily-ingest shape where
    * x4's corpus-scale near-dup work amortizes to storage. Emits one
    * row of driver-checkable facts: `n_batch` (oracle recomputes the
    * md5-bucket split), `identical` (index-served admitted set equals
    * the in-memory-frames admitted set — the v12 persistence pin), and
    * `n_exact_admitted` (admitted batch docs with ≥n tokens whose text
    * exactly matches a standing doc — must be 0: identical docs have
    * identical signatures, so LSH recall for them is 1 and the exact-
    * Jaccard verify rejects at j = 1). */
  def minhashIndexIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    val standing = parts.filter(col("split") === "train")
    val batch = parts.filter(col("split") === "test")
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_idx")
    val path = tmpRoot.toString + "/idx"
    try {
      // NON-default bucket count on purpose: the whole x26 family runs
      // its correctness gate against an index whose bucket count exists
      // only in the manifest — a verb that fell back to the compile-time
      // default would mis-prune and fail the identity pins
      // ONE signing pass feeds both the persisted index and the
      // in-memory control frames (they were already the same definition
      // — minhashIndexFrames — planned twice; guide §2.4), and the
      // batch is signed once for its two serves
      val (mb, msh, msz) = Dedup.minhashIndexFrames(standing)
      Dedup.saveMinhashIndexFromFrames(mb, msh, msz, path, idBuckets = 48)
      val bf = Dedup.minhashIndexFrames(batch)
      val fromIdx = Dedup.nearDupIngestFromPath(spark, path, batch,
        batchFrames = Some(bf))
      val mem = Dedup.nearDupIngestFromFrames(mb, msh, msz,
        batch.select("doc_id"), bf._1, bf._2, bf._3)
      bf._2.unpersist()
      val identical = multisetEq(fromIdx, mem)
      // nearDupIngest is eager at its rejected-id set, so the standing
      // shingle cache is no longer read by any retained plan
      msh.unpersist()
      val nExactAdmitted = fromIdx
        .join(batch.filter(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"), col("text")), "doc_id")
        .join(standing.select(col("text")), Seq("text"), "left_semi")
        .count()
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((batch.count(), identical, nExactAdmitted))
        .toDF("n_batch", "identical", "n_exact_admitted")
    } finally deleteTempTree(tmpRoot)
  }

  /** Memoized per-JVM MinHash index store for [[minhashIndexServe]]
    * (x26b) — the x24b pattern: one FIXED path per input dir, written
    * once per JVM with overwrite, so the bench's warmup rep absorbs
    * the one-time corpus signing and the timed reps measure the
    * serving path only. [[graft.ext.BuildOnce]] keyed — the build
    * writes the index to a fixed path. */
  private val x26bIndex = new graft.ext.BuildOnce[String, String]

  /** Loaded-and-persisted standing index frames, keyed by (session,
    * dir): a long-running ingest service keeps its standing index HOT
    * across batches — one persisted copy per session per corpus,
    * REUSED by every ingest, not accumulated (the hot-cache
    * methodology [[graft.Bench.cacheBaseTables]] applies to base
    * tables; this is the same rule applied to the serving index).
    * Keyed by the session OBJECT (reference identity — SparkSession
    * has no value equals, and hash collisions disambiguate through
    * equals), not by identityHashCode, which is NOT unique: a
    * collision with a stopped session's key would hand back persisted
    * frames bound to a dead session. Stopped sessions' entries are
    * evicted on access; the blocks themselves died with the stopped
    * context, so the only thing an unreaped entry holds is the map
    * row — no executor memory leaks even if the op is never called
    * again. [[graft.ext.BuildOnce]] keyed: concurrent first calls
    * resolve atomically and the loser BLOCKS on the winner's build —
    * strictly better than the earlier build-then-putIfAbsent race,
    * which persisted a duplicate frame set just to unpersist it. */
  private val x26bFrames =
    new graft.ext.BuildOnce[(SparkSession, String), (DataFrame, DataFrame, DataFrame)]

  /** x26b: the SERVING path of the persisted MinHash-LSH index — load
    * the stored frames, run one batch through
    * [[graft.ext.Dedup.nearDupIngest]], report the driver-checkable
    * facts. x26 remains the correctness pin (it builds the index twice
    * and probes index-served ≡ in-memory); its bench row therefore
    * measures the AUDIT harness (~10s), not the operator — this row is
    * the production daily-ingest cost: index reads are band-equi-join
    * bounded, the batch side is delta-sized, and the corpus is never
    * re-shingled. Facts emitted (both oracle-recomputable): `n_batch`
    * (the md5-bucket split rule) and `n_exact_admitted` (identical
    * docs always collide in LSH and verify at j = 1, so a true exact
    * duplicate of a standing doc can never be admitted — exactly 0,
    * counted over the >= 3-token docs the shingle guarantee covers).
    * Both facts ride ONE lazy plan (an aggregate crossJoin of two
    * 1-row counts), so the serve path adds ZERO driver actions beyond
    * nearDupIngest's internal bounded one — the driver's single
    * collect over the returned row does all the counting. */
  def minhashIndexServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    val standing = parts.filter(col("split") === "train")
    val batch = parts.filter(col("split") === "test")
    val path = x26bIndex(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_x26b_idx_${dirKey(dir)}"
      // non-default bucket count: see minhashIndexIngest
      Dedup.saveMinhashIndex(standing, p, idBuckets = 48)
      p
    }
    x26bFrames.evict(_._1.sparkContext.isStopped)
    val (ib, ish, isz) = x26bFrames((spark, dir)) {
      val fs = Dedup.loadMinhashIndex(spark, path)
      import org.apache.spark.storage.StorageLevel
      Seq(fs._1, fs._2, fs._3)
        .foreach(f => f.persist(StorageLevel.MEMORY_AND_DISK).count())
      fs
    }
    // path-based serves must honor standing tombstones
    // (deleteFromMinhashIndex): the streaming ingest loads them on
    // every micro-batch, and a batch serve that skipped them would
    // let deleted docs keep rejecting new batches — the one-line load
    // is a no-op (None) until the first delete exists
    val admitted = Dedup.nearDupIngest(ib, ish, isz, batch,
      tombstones = Dedup.loadMinhashTombstones(spark, path),
      // the memoized-frame serve must prune with the INDEX'S stored
      // bucket count, not the compile-time default
      idBuckets = Dedup.minhashIndexParams(spark, path)("buckets").toInt)
    admitted
      .join(batch.filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), col("text")), "doc_id")
      .join(standing.select(col("text")), Seq("text"), "left_semi")
      .agg(count(lit(1)).as("n_exact_admitted"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .select(col("n_batch"), col("n_exact_admitted"))
  }

  /** x26c: persisted MinHash index APPEND — the maintenance pin that
    * makes the x26 family a complete daily regime. Two days of
    * batches: day-1 batch (md5 buckets [52428, 58982)) ingests against
    * the standing (train) index and its ADMITTED docs are appended in
    * place ([[graft.ext.Dedup.appendToMinhashIndex]] — O(batch)
    * partition-appends, standing data untouched); day-2 batch
    * (buckets >= 58982) then ingests against the APPENDED index. The
    * identity pin (v12's discipline): day-2's admitted set must equal
    * what a FULL REBUILD over standing ∪ day-1-admitted serves —
    * exact, because every index row is a per-doc function of text, so
    * frames(corpus ∪ admitted) = frames(corpus) ∪ frames(admitted) and
    * parquet round-trips are bit-stable. Emits `n_batch2` (the oracle
    * recomputes the md5-bucket rule) and `identical` (TRUE). */
  def minhashIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val batch1 = docs.filter(bk >= 52428 && bk < 58982)
    val batch2 = docs.filter(bk >= 58982)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_append")
    try {
      // incremental path: build on standing, ingest day 1, append its
      // admitted docs, ingest day 2 against the appended index.
      // The standing corpus is SIGNED ONCE (guide §2.4): the same
      // frames triple feeds the incremental build and — unioned with
      // the delta's frames — the rebuild control below. What the pin
      // audits is unchanged: the append MACHINERY (staging, manifest
      // composition, the serve reading a composed layout) must serve
      // exactly like a monolithic gen-0 layout; frame-content equality
      // was always a per-doc theorem, stated in appendToMinhashIndex's
      // contract.
      val incPath = tmpRoot.toString + "/inc"
      val (sb, ssh, ssz) = Dedup.minhashIndexFrames(standing)
      // non-default bucket count: see minhashIndexIngest
      Dedup.saveMinhashIndexFromFrames(sb, ssh, ssz, incPath,
        idBuckets = 48)
      // day-1's batch is signed ONCE for its serve, the append, and the
      // rebuild union below (§2.4): the admitted slice of its frames IS
      // frames(admitted docs) — per-doc rows, id-semi-joined against
      // the eagerly-pinned admitted set (the pin keeps the three
      // appended frames agreeing even if a plan re-executes, the same
      // job the old ckptLocal of the admitted TEXT did)
      val bf1 = Dedup.minhashIndexFrames(batch1)
      val admitted1 = graft.ext.Checkpoints.ckptLocal(
        Dedup.nearDupIngestFromPath(spark, incPath, batch1,
          batchFrames = Some(bf1)))
      def adm(df: DataFrame): DataFrame =
        df.join(admitted1, Seq("doc_id"), "left_semi")
      Dedup.appendToMinhashIndexFromFrames(spark, incPath,
        adm(bf1._1), adm(bf1._2), adm(bf1._3))
      // rebuild path: one full index over standing ∪ day-1-admitted —
      // written from the already-computed standing frames plus the
      // admitted slice of day-1's (frames are per-doc and the two doc
      // sets are disjoint, so the union IS frames(standing ∪ admitted)).
      // Written HERE, right after the append, so the standing and
      // day-1 shingle caches free before day-2's frames are pinned —
      // at most one corpus-scale cached frame lives at a time
      val rbPath = tmpRoot.toString + "/rebuild"
      Dedup.saveMinhashIndexFromFrames(sb.unionByName(adm(bf1._1)),
        ssh.unionByName(adm(bf1._2)), ssz.unionByName(adm(bf1._3)),
        rbPath, idBuckets = 48)
      bf1._2.unpersist()
      ssh.unpersist()
      // day-2's batch is signed ONCE for its two serves (§2.4)
      val bf2 = Dedup.minhashIndexFrames(batch2)
      val incAdmitted2 = Dedup.nearDupIngestFromPath(spark, incPath, batch2,
        batchFrames = Some(bf2))
      val rbAdmitted2 = Dedup.nearDupIngestFromPath(spark, rbPath, batch2,
        batchFrames = Some(bf2))
      bf2._2.unpersist()
      val identical = multisetEq(incAdmitted2, rbAdmitted2)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((batch2.count(), identical)).toDF("n_batch2", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** x26d: persisted MinHash index DELETE — the removal pin that
    * completes the x26 family's CRUD lifecycle (build x26 / serve x26b
    * / append x26c / delete+compact here). Standing = the train split;
    * the DOOMED set is its upper md5-bucket range [39321, 52428) —
    * deleted via [[graft.ext.Dedup.deleteFromMinhashIndex]] (an
    * O(delete)-cost tombstone append; standing data untouched). The
    * test split then ingests three ways: (a) against the tombstoned
    * index (merge-on-read: candidates anti-joined on tombstone ids),
    * (b) against the index after
    * [[graft.ext.Dedup.compactMinhashTombstones]] physically removed
    * the doomed rows (bucket-pruned rewrite), and (c) against a FULL
    * REBUILD over standing∖doomed. The identity pin (v12's
    * discipline): all three admitted sets must be EXACTLY equal —
    * merge-on-read is candidate-level-equivalent to removal by
    * construction, and compaction preserves the surviving frame set
    * row-for-row. Emits `n_batch` (oracle recomputes the md5-bucket
    * rule) and `identical` (TRUE). */
  def minhashIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val doomed = docs.filter(bk >= 39321 && bk < 52428)
    val batch = docs.filter(bk >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_delete")
    try {
      val incPath = tmpRoot.toString + "/inc"
      // ONE signing pass over standing feeds BOTH builds (guide §2.4):
      // the rebuild control over standing∖doomed is a per-doc filter of
      // the same frames (frames(corpus.filter(p)) = frames(corpus)
      // .filter(p) exactly — every row is a per-doc function of text).
      // The verbs under audit — delete's tombstone append and the
      // compaction's stored-row movement — are untouched.
      val (sb, ssh, ssz) = Dedup.minhashIndexFrames(standing)
      // non-default bucket count: see minhashIndexIngest
      Dedup.saveMinhashIndexFromFrames(sb, ssh, ssz, incPath,
        idBuckets = 48)
      val rbPath = tmpRoot.toString + "/rebuild"
      Dedup.saveMinhashIndexFromFrames(sb.filter(bk < 39321),
        ssh.filter(bk < 39321), ssz.filter(bk < 39321), rbPath,
        idBuckets = 48)
      ssh.unpersist()
      Dedup.deleteFromMinhashIndex(doomed.select("doc_id"), incPath)
      // the batch is signed ONCE for its three serves (§2.4)
      val bf = Dedup.minhashIndexFrames(batch)
      // the path serve honors standing tombstones automatically
      val tombAdmitted = Dedup.nearDupIngestFromPath(spark, incPath, batch,
        batchFrames = Some(bf))
      Dedup.compactMinhashTombstones(spark, incPath)
      // post-compaction the tombstones left the composition — served bare
      val compAdmitted = Dedup.nearDupIngestFromPath(spark, incPath, batch,
        batchFrames = Some(bf))
      val rbAdmitted = Dedup.nearDupIngestFromPath(spark, rbPath, batch,
        batchFrames = Some(bf))
      bf._2.unpersist()
      def eq(a: DataFrame, b: DataFrame): Boolean = multisetEq(a, b)
      val identical =
        eq(tombAdmitted, rbAdmitted) && eq(compAdmitted, rbAdmitted)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((batch.count(), identical)).toDF("n_batch", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** x26e: persisted MinHash index REFRESH — the composite that closes
    * the living-corpus loop by feeding x20's refresh decisions into the
    * index-maintenance verbs
    * ([[graft.ext.Dedup.refreshMinhashIndex]] = delete → compact →
    * append): the index is built over the OLD snapshot, the epoch's
    * adjudication ([[refreshDecisions]] on the x19/x20 snapshot pair)
    * yields the leaving set (crawl-removed ids ∪ old revisions of
    * admitted updates) and the entering set (admitted adds ∪ new
    * revisions of admitted updates), and the refresh applies both in
    * place. The identity pin is the STRONGEST in the family — not
    * serve-equality on one probe batch but frame-multiset equality:
    * every index row is a per-doc function of the doc's text (fixed
    * hash families), so the refreshed index must hold EXACTLY the rows
    * of a fresh [[graft.ext.Dedup.saveMinhashIndex]] build over
    * [[nextSnapshot]] — bands, shingles and sizes each compared by
    * two-sided exceptAll. Serve-equality for every possible batch
    * follows a fortiori. Emits `n_admitted` (the oracle recomputes the
    * x20 decision CTEs) and `identical` (TRUE). */
  def minhashIndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (oldSnap, newSnap) = snapshots(spark, dir)
    // delta-sized and consumed by several writes below; pinned so the
    // quality-gate/digest jobs run once, not per consumer
    val acts = graft.ext.Checkpoints.ckptLocal(
      refreshDecisions(oldSnap, newSnap))
    val removedIds = Dedup.snapshotDiff(oldSnap, newSnap)
      .filter(col("status") === "removed").select("doc_id")
    val updatedIds = acts.filter(col("action") === "admit_update")
      .select("doc_id")
    val admittedDocs = graft.ext.Checkpoints.ckptLocal(
      newSnap.join(
        acts.filter(col("action").isin("admit_new", "admit_update"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_refresh")
    try {
      val incPath = tmpRoot.toString + "/inc"
      val rbPath = tmpRoot.toString + "/rebuild"
      // The rebuild control stays an INDEPENDENT from-text build over
      // nextSnapshot — x26e's pin is precisely that refresh(old) lands
      // on that independently-derived corpus, so the control must not
      // share the treatment's frames (unlike x26d/x30, where the
      // control corpus is a filter of the same standing set). The two
      // legs touch disjoint directories and share no mutable state, so
      // they are independent jobs — overlapped (guide §2.6 /
      // IndexLayout.inParallel) the verb costs ~the slower leg, not
      // their sum. non-default bucket count: see minhashIndexIngest
      graft.ext.IndexLayout.inParallel(Seq(
        () => {
          Dedup.saveMinhashIndex(oldSnap, incPath, idBuckets = 48)
          Dedup.refreshMinhashIndex(spark, incPath,
            removedIds.unionByName(updatedIds), admittedDocs)
        },
        () => Dedup.saveMinhashIndex(nextSnapshot(spark, dir), rbPath,
          idBuckets = 48)))
      val (ib, ish, isz) = Dedup.loadMinhashIndex(spark, incPath)
      val (rb, rs, rz) = Dedup.loadMinhashIndex(spark, rbPath)
      // three independent frame compares, overlapped the same way (the
      // short-circuit only ever saved work on a FAILING pin)
      val identical = graft.ext.IndexLayout.inParallel(Seq(
        () => multisetEq(ib, rb),
        () => multisetEq(ish, rs),
        () => multisetEq(isz, rz))).forall(identity)
      // driver-side local relation (the comparisons above are eager),
      // so nothing lazy still reads the index files after cleanup
      Seq((admittedDocs.count(), identical)).toDF("n_admitted", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** x30: persisted MinHash index REBUCKET — the scale-parameter
    * maintenance verb ([[graft.ext.Dedup.rebucketMinhashIndex]]): an
    * index whose stored id-bucket count the corpus has outgrown is
    * re-keyed IN PLACE to a new count — stored rows MOVED (never
    * re-derived from text), standing tombstones resolved by the same
    * rewrite, one atomic manifest flip updating the stored `buckets`
    * parameter. The regime: build at a deliberately-undersized count
    * (16), delete the doomed md5-bucket range (so the verb's
    * tombstone-resolution leg is exercised), rebucket to 48, and
    * ingest the test split against the rebucketed index. Identity pins
    * (the x26e discipline — frame multisets, the strongest form, plus
    * serve equality a fortiori): the rebucketed index's three frames
    * must EXACTLY equal a fresh [[graft.ext.Dedup.saveMinhashIndex]]
    * build at 48 over the surviving corpus, and the admitted set must
    * match the rebuild's. Emits `n_batch` (oracle recomputes the
    * md5-bucket rule), `buckets_after` (the flipped manifest's stored
    * count, read back by the serve path) and `identical` (TRUE). */
  def minhashIndexRebucket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val doomed = standing.filter(bk >= 39321)
    val batch = docs.filter(bk >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_rebucket")
    try {
      val incPath = tmpRoot.toString + "/inc"
      // ONE signing pass over standing feeds BOTH builds (guide §2.4,
      // the x26d discipline): the fresh-at-48 control over the
      // survivors is a per-doc filter of the same frames; the verb
      // under audit — rebucket MOVING stored rows to the new bucket
      // keying — is untouched
      val (sb, ssh, ssz) = Dedup.minhashIndexFrames(standing)
      Dedup.saveMinhashIndexFromFrames(sb, ssh, ssz, incPath,
        idBuckets = 16)
      val rbPath = tmpRoot.toString + "/rebuild"
      Dedup.saveMinhashIndexFromFrames(sb.filter(bk < 39321),
        ssh.filter(bk < 39321), ssz.filter(bk < 39321), rbPath,
        idBuckets = 48)
      ssh.unpersist()
      Dedup.deleteFromMinhashIndex(doomed.select("doc_id"), incPath)
      Dedup.rebucketMinhashIndex(spark, incPath, newBuckets = 48)
      val bucketsAfter = Dedup.minhashIndexParams(spark, incPath)("buckets")
      // the batch is signed ONCE for its two serves (§2.4)
      val bf = Dedup.minhashIndexFrames(batch)
      val rbAdmitted0 = Dedup.nearDupIngestFromPath(spark, incPath, batch,
        batchFrames = Some(bf))
      val fbAdmitted = Dedup.nearDupIngestFromPath(spark, rbPath, batch,
        batchFrames = Some(bf))
      bf._2.unpersist()
      val (ib, ish, isz) = Dedup.loadMinhashIndex(spark, incPath)
      val (fb, fsh, fsz) = Dedup.loadMinhashIndex(spark, rbPath)
      // four independent identity compares, overlapped (guide §2.6; the
      // short-circuit only ever saved work on a FAILING pin)
      val identical = graft.ext.IndexLayout.inParallel(Seq(
        () => multisetEq(rbAdmitted0, fbAdmitted),
        () => multisetEq(ib, fb),
        () => multisetEq(ish, fsh),
        () => multisetEq(isz, fsz))).forall(identity)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((batch.count(), bucketsAfter.toLong, identical))
        .toDF("n_batch", "buckets_after", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** s15: STREAMING MinHash near-dup ingest — the x26b serving path
    * run as a real Structured Streaming query
    * ([[graft.streaming.Streaming.nearDupIngestStream]]): the test
    * split streams in as micro-batches, each admitted against the
    * memoized standing (train) index plus the deltas of previously
    * committed batches, with idempotent per-batch sinks. Emits x26b's
    * driver-checkable facts from the drained sink: `n_batch` (the
    * md5-bucket rule, oracle-recomputed) and `n_exact_admitted`
    * (identical docs always collide in LSH and verify at j = 1, so a
    * true exact duplicate of a standing doc can never be admitted —
    * exactly 0 over the >= 3-token docs the shingle guarantee covers).
    * One AvailableNow drain per call against fresh sink/checkpoint
    * dirs; the standing index is the x26b memoized artifact, so the
    * per-call cost is the batch side (the production shape). */
  def streamNearDupIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    val standing = parts.filter(col("split") === "train")
    val batch = parts.filter(col("split") === "test")
    val path = x26bIndex(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_x26b_idx_${dirKey(dir)}"
      // non-default bucket count: see minhashIndexIngest (shared memo
      // with the x26b serve — the stream reads every layout parameter
      // back from the manifest)
      Dedup.saveMinhashIndex(standing, p, idBuckets = 48)
      p
    }
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s15")
    try {
      val docsStream = graft.streaming.Streaming.documentsStream(spark, dir)
        .filter(graft.ext.DataSplit.bucket(col("doc_id")) >= 52428)
        .select("doc_id", "text")
      val q = graft.streaming.Streaming.nearDupIngestStream(docsStream, path,
        s"$tmpRoot/out", s"$tmpRoot/delta", s"$tmpRoot/ck")
      q.awaitTermination()
      val admitted = spark.read.parquet(s"$tmpRoot/out").select("doc_id")
      val nExact = admitted
        .join(batch.filter(size(split(col("text"), " ")) >= 3)
          .select(col("doc_id"), col("text")), "doc_id")
        .join(standing.select(col("text")), Seq("text"), "left_semi")
        .count()
      // driver-side local relation: the sink dirs are deleted below, so
      // nothing lazy may still read them
      Seq((batch.count(), nExact)).toDF("n_batch", "n_exact_admitted")
    } finally deleteTempTree(tmpRoot)
  }

  /** s18: STREAMING index TAKEDOWN — x26d's removal discipline with
    * the deletes arriving as a real stream
    * ([[graft.streaming.Streaming.minhashDeleteStream]]): the doomed
    * md5-bucket range [39321, 52428) streams in as three files → three
    * micro-batches of tombstones (each landing exactly once in its own
    * `batch_id=N` dir), and the test split then ingests against the
    * takedown-streamed index. The identity pin is x26d's verbatim:
    * the tombstoned serve must equal a FULL REBUILD over
    * standing∖doomed — streaming the deletes changes nothing about
    * what deletion means. Completes the streaming CRUD symmetry
    * (ingest s15/s16, serve s17, delete here); kill/resume
    * exactly-once is pinned by StreamingSpec. Emits `n_batch` (oracle
    * recomputes the md5-bucket rule) and `identical` (TRUE). */
  def streamIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val doomed = docs.filter(bk >= 39321 && bk < 52428)
    val batch = docs.filter(bk >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s18")
    try {
      val incPath = tmpRoot.toString + "/idx"
      // ONE signing pass over standing feeds BOTH builds (guide §2.4,
      // the x26d discipline): the rebuild control over standing∖doomed
      // is a per-doc filter of the same frames; the verb under audit —
      // the STREAMED tombstone appends — is untouched
      val (sb, ssh, ssz) = Dedup.minhashIndexFrames(standing)
      // non-default bucket count: see minhashIndexIngest
      Dedup.saveMinhashIndexFromFrames(sb, ssh, ssz, incPath,
        idBuckets = 48)
      val rbPath = tmpRoot.toString + "/rebuild"
      Dedup.saveMinhashIndexFromFrames(sb.filter(bk < 39321),
        ssh.filter(bk < 39321), ssz.filter(bk < 39321), rbPath,
        idBuckets = 48)
      ssh.unpersist()
      val in = tmpRoot.toString + "/in"
      doomed.select("doc_id").repartition(3).write.parquet(in)
      val src = spark.readStream
        .schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = graft.streaming.Streaming.minhashDeleteStream(
        src, incPath, tmpRoot.toString + "/ck")
      q.awaitTermination()
      // the batch is signed ONCE for its two serves (§2.4)
      val bf = Dedup.minhashIndexFrames(batch)
      // the path serve honors the streamed tombstones automatically
      val tombAdmitted = Dedup.nearDupIngestFromPath(spark, incPath, batch,
        batchFrames = Some(bf))
      val rbAdmitted = Dedup.nearDupIngestFromPath(spark, rbPath, batch,
        batchFrames = Some(bf))
      bf._2.unpersist()
      val identical = multisetEq(tombAdmitted, rbAdmitted)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((batch.count(), identical)).toDF("n_batch", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** m7: REAL image decode over the corpus — every document gets a
    * deterministic synthetic PNG payload
    * ([[graft.ext.Multimodal.syntheticPng]]; this corpus ships no
    * image column, and the PNG writer/reader are the REAL
    * `javax.imageio` codecs), decoded back through
    * [[graft.ext.Multimodal.extractImageFeatures]]'s mapPartitions
    * batch path — encode and decode both run distributed, image bytes
    * never shuffle, one corrupt blob cannot fail the scan (it comes
    * back `decodable = false`). Driver-checkable facts: `n_images`
    * (corpus count), `n_decoded` (= n_images: every payload is a
    * well-formed PNG and PNG decode is lossless), `dims_ok` (every
    * decode returned the encoded 32×32 geometry). Golden-pixel
    * exactness of the decode/resize kernels is spec-pinned. */
  def mediaImageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id"))
      .as[Long].map(id =>
        graft.ext.Multimodal.MediaRow(id, graft.ext.Multimodal.syntheticPng(id)))
    graft.ext.Multimodal.extractImageFeatures(media).toDF().agg(
      count(lit(1)).as("n_images"),
      sum(when(col("decodable"), 1L).otherwise(0L)).as("n_decoded"),
      (count(lit(1)) === sum(when(col("decodable") &&
        col("width") === 32 && col("height") === 32, 1L).otherwise(0L)))
        .as("dims_ok"))
  }

  /** m8: perceptual near-dup over the REAL codec — the m4 operation
    * routed through `javax.imageio` decode instead of the byte-
    * histogram stub, closing the loop m7 opened: every document
    * `doc_id < 50` contributes a pristine synthetic PNG (id·2) and a
    * NEAR-IDENTICAL twin (id·2+1: same image, 8 perturbed pixels);
    * both are decoded by [[graft.ext.Multimodal.extractImageFeatures]]
    * (distributed, bytes never shuffle) and paired on luminance-
    * histogram L1. The fixture's constant-weight-code geometry
    * ([[graft.ext.Multimodal.syntheticPngBanded]]) makes the answer
    * PROVABLE: twins sit at L1 ≤ 0.0156, any cross-doc pair at
    * ≥ 0.65, so threshold 0.1 finds exactly the 50 twin pairs and the
    * oracle enumerates them in SQL. Bounded slice by design — the
    * all-pairs verify is m4's fixture-scale oracle discipline; the
    * production path for media dedup remains m6's signature grouping
    * (now equally runnable over real-decoded features). */
  def mediaPerceptualNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 50).as[Long].flatMap(id => Seq(
        graft.ext.Multimodal.MediaRow(id * 2,
          graft.ext.Multimodal.syntheticPngBanded(id)),
        graft.ext.Multimodal.MediaRow(id * 2 + 1,
          graft.ext.Multimodal.syntheticPngBanded(id, nFlips = 8))))
    val feats = graft.ext.Multimodal.extractImageFeatures(media).toDF()
      .filter(col("decodable"))
    graft.ext.Multimodal.perceptualNearDups(feats, maxL1 = 0.1,
      histCol = "luma_hist")
  }

  /** x17b: the driver-checkable contract of x17, v3b-style. Emits ONE
    * row of facts an SQL oracle can recompute or assert:
    * `n_dups_admitted` (bloom admitted a true corpus duplicate — must
    * be 0: Bloom filters have no false negatives), `n_exact` (the
    * join-based admitted count, recomputed independently by the
    * oracle), and `excess_ok` (false-positive rejections within
    * max(5, 1% of batch) — ≈23σ above the 0.13 % configured rate). */
  def bloomIngestBounded(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    val corpus = split.filter(col("split") === "train")
    val batch = split.filter(col("split") === "test")
    val admitted = Dedup.bloomIngest(corpus, batch)
    val exact = batch
      .select(col("doc_id"), sha2(col("text"), 256).as("_sha"))
      .join(corpus.select(sha2(col("text"), 256).as("_sha")).distinct(),
        Seq("_sha"), "left_anti")
      .select("doc_id")
    admitted.join(exact, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_dups_admitted"))
      .crossJoin(admitted.agg(count(lit(1)).as("n_bloom")))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      .select(col("n_dups_admitted"), col("n_exact"),
        (col("n_exact") - col("n_bloom") <=
          greatest(lit(5L), ceil(col("n_batch") * lit(0.01)).cast("long")))
          .as("excess_ok"))
  }

  /** v6: exact corpus kNN graph (every vector's top-3 cosine
    * neighbors) — the O(n²) oracle twin; v7 is the clustered path. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(spark, dir), k = 3)

  /** v7: cluster-bucketed kNN graph (n²/nList pairs). Engine-specific
    * (depends on the trained coarse quantizer) → rows-only driver
    * check; v7b pins the recall floor, the spec pins within-cluster
    * exactness. */
  def knnGraphClustered(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphClustered(Tables.embeddings(spark, dir),
      k = 3, nList = 8, nProbe = 2, nIters = 1)

  /** v7b: driver-checkable bound for v7 — overall edge recall of the
    * clustered graph against the exact graph, self-certified the same
    * way as v3b (the oracle pins the expected TRUE row; the engine
    * computes the recall for real). Floor 0.30: random uniform fixture
    * vectors are IVF's worst case (measured ~0.5-0.7 at nList=8; real
    * clustered corpora sit far higher), and even there the clustered
    * graph must find a third of all true edges or something is broken. */
  def knnRecallBounded(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnGraph(spark, dir).select("query_id", "neighbor_id")
    val clustered = knnGraphClustered(spark, dir)
      .select("query_id", "neighbor_id")
    val hit = exact.join(clustered, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hit"))
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    hit.crossJoin(tot)
      .select((col("n_hit").cast("double") / col("n_exact") >= 0.30)
        .as("recall_ok"))
  }

  /** The composite training-data deliverable: exact-dedup (keep first),
    * deterministic t7 split, decontaminate train against test (x10's
    * shingle-overlap rule), drop low-quality docs — the clean training
    * corpus a 100 TB text pipeline actually materializes. Every stage is
    * an already-oracle-verified operator; this pins their COMPOSITION
    * (dedup before split, anti-join on distinct contaminated train ids,
    * quality filter last). Scale notes: the anti-join's build side is
    * contaminated-id singletons (tiny — AQE broadcasts it), and the
    * stages chain without any driver-side materialization. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.dedupKeepFirst(Tables.documents(spark, dir))
    val split = graft.ext.DataSplit.withSplit(deduped, "doc_id")
    val train = split.filter(col("split") === "train")
    val test = split.filter(col("split") === "test")
    val dirty = Dedup.contaminationPairs(train, test, n = 3, minShared = 5,
        maxShingleDf = Some(100))
      .select(col("train_id").as("doc_id")).distinct()
    val clean = train.join(dirty, Seq("doc_id"), "left_anti")
    TextAnalysis.qualityScore(TextAnalysis.qualitySignals(clean))
      .filter(col("quality") >= 0.5)
      .select("doc_id", "source", "n_tokens", "quality")
  }

  /** Canonical normalization (lowercase, strip punctuation, collapse
    * whitespace) — oracle-checked against the same regex pipeline. */
  def normalizedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"))

  // ---- text analysis ----

  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
      size(TextAnalysis.bpeTokens(col("text"))).as("n_bpe_tokens"),
      length(col("text")).as("n_chars_calc"))
  }

  /** t33 — heavy-hitter tokens via the mergeable Misra-Gries summary
    * ([[graft.functions.FreqItemsAggregator]]), the frequent-items
    * counterpart of g32's persisted HLL: at 100 TB "what are the hot
    * tokens" cannot afford the full-vocabulary shuffle an exact
    * group-by needs, but a k-bounded summary whose partials merge in
    * any tree answers it with a PROVEN undercount bound of N/(k+1).
    *
    * Driver-checkable contract (g32 pattern): the output rows are the
    * EXACT heavy tokens (cnt·100 ≥ N — integer arithmetic, engine-
    * exact), each carrying two booleans the oracle pins TRUE:
    *  - `found_ok`: the sketch holds the token. Guaranteed, not tuned:
    *    heavy means cnt > N/100, undercount ≤ N/513, so the surviving
    *    counter is positive under any partitioning/merge order.
    *  - `err_ok`: est ≤ cnt and (cnt − est)·(k+1) ≤ N — the
    *    Misra-Gries bound itself, also order-independent.
    * The exact side exists here for the audit; a production pipeline
    * persists only the ≤k-entry summary per shard/day and merges on
    * demand, never rescanning the corpus. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.FreqItems.DefaultK
    val toks = docTokens(spark, dir)
    val mg = udaf(new graft.functions.FreqItemsAggregator(k))
    heavyHitterFacts(toks.agg(mg(col("tok")).as("summary")), toks, k)
  }

  /** s21: the STREAMING heavy-hitter monitor
    * ([[graft.streaming.Streaming.tokenHeavyHitters]]) — t33's
    * Misra-Gries summary kept by a real streaming aggregation over the
    * arriving documents, pushed through the same fact/audit finishing
    * stage. The summary contents are micro-batch-merge-tree state, but
    * both pinned guarantees (pure undercount; N/(k+1) bound, so every
    * heavy token is present) are merge-order-independent — t33's
    * oracle SQL covers this run verbatim (the s20 pattern, completing
    * the streaming twin for all three sketches). */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.FreqItems.DefaultK
    val summary = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.tokenHeavyHitters(
        graft.streaming.Streaming.documentsStream(spark, dir), k))
    heavyHitterFacts(summary, docTokens(spark, dir), k)
  }

  private def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))

  /** t33/s21's shared audit stage: the exact heavy-token set (integer
    * cnt·100 ≥ N) joined to the ≤k-entry summary, pinning both
    * Misra-Gries guarantees (see [[heavyHitters]]'s scaladoc). */
  private def heavyHitterFacts(summaryRow: DataFrame, toks: DataFrame,
      k: Int): DataFrame = {
    val tot = toks.agg(count(lit(1)).as("n"))
    val est = summaryRow.select(explode(col("summary")).as(Seq("tok", "est")))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    exact.crossJoin(tot).filter(col("cnt") * 100 >= col("n"))
      .join(est, Seq("tok"), "left")
      .select(col("tok"), col("cnt"),
        col("est").isNotNull.as("found_ok"),
        (col("est").isNotNull && col("est") <= col("cnt") &&
          (col("cnt") - col("est")) * (k + 1) <= col("n")).as("err_ok"))
  }

  /** t35 — per-source length quantiles via the mergeable q-digest
    * ([[graft.functions.QDigestAggregator]]), completing the
    * distribution-monitoring sketch tripod: HLL "how many distinct"
    * (s12/g32), Misra-Gries "which items are hot" (t33), q-digest
    * "how are values distributed". At 100 TB, per-source/per-day
    * length-and-score quantiles gate curation (truncation cliffs,
    * scraper regressions, boilerplate floods show up as quantile
    * shifts) and the exact answer needs a per-source SORT of the
    * corpus; the digest answers from O(k) merged entries per group,
    * persistable per shard/day like g32's HLL rollup.
    *
    * Driver-checkable contract (t33's): emitted rows are engine-exact
    * facts — per (source, φ): `n` and the rank-definition exact
    * quantile `exact_q` (min v with #{x ≤ v} ≥ ⌈φ·n⌉, integer
    * arithmetic both engines spell identically) — plus `sketch_ok`,
    * which pins the ORDER-INDEPENDENT q-digest guarantee: the
    * estimate's inclusive/exclusive ranks sit within ε·n of the target
    * for ε = m/k (spelled multiplication-only:
    * k·rank_incl ≥ k·target − m·n and k·rank_excl ≤ k·target + m·n),
    * the digest is in-universe and ≤ 6k entries. The estimate ITSELF
    * is merge-tree-dependent (compression sees partial masses) and is
    * never emitted — the bound is what holds under any partitioning.
    *
    * Scale shape: one scan → k-bounded map-side partials → |sources|
    * digests; the quantile walk is a typed flatMap over that
    * |sources|-row frame (≤ 6k-entry maps, executor-local arithmetic).
    * The exact CDF side exists for the audit only, exactly like t33's
    * exact leg. Values clamp into the 2^m universe (m = 10 covers this
    * corpus's n_chars; over-range values would collapse into the top
    * leaf — pick m for the domain). */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.QDigest.DefaultM
    val k = graft.functions.QDigest.DefaultK
    val vals = Tables.documents(spark, dir).select(col("source"),
      graft.functions.QDigest.clampToUniverse(col("n_chars"), m).as("v"))
    val qd = udaf(new graft.functions.QDigestAggregator(k, m))
    quantileFacts(spark,
      vals.groupBy("source").agg(qd(col("v")).as("digest")), vals, k, m)
  }

  /** t36: persisted per-day quantile-digest ROLLUP — g32's
    * persist-and-merge pattern ([[graft.analytics.Pipelines
    * .sketchRollup]]) applied to the quantile sketch: a production
    * pipeline persists ONE ≤3k-entry digest row per day (what `daily`
    * computes here) and answers weekly value-distribution questions by
    * merging the stored rows ([[graft.functions.QDigestMergeAggregator]])
    * — O(days) rows touched at serve time, the corpus rescanned never.
    * Values are event amounts in exact integer cents via
    * [[graft.ops.Viewing.cents]] — THE library cents spelling, whose
    * Spark round ↔ DuckDB round pair every monetary oracle already
    * hash-matches — clamped into a 2^16 universe; k=256 gives
    * ε = 16/256 = 6.25% rank error per week. Facts are t35's: exact n,
    * the rank-definition exact weekly quantile, and the
    * merge-order-independent bound pinned TRUE — mass conservation
    * through the day→week merge is inside the pin (n_sketch = n). */
  def quantileRollup(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.QDigest.RollupM
    val k = graft.functions.QDigest.RollupK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("source"),
      date_trunc("day", col("ts")).as("day"),
      graft.functions.QDigest.clampToUniverse(
        graft.ops.Viewing.cents, m).as("v"))
    val qd = udaf(new graft.functions.QDigestAggregator(k, m))
    val qm = udaf(new graft.functions.QDigestMergeAggregator(k, m))
    // what a production system persists: one tiny digest row per day
    val daily = ev.groupBy("source", "day").agg(qd(col("v")).as("digest"))
    // serving path: merge the persisted daily digests per week
    val weekly = daily.groupBy("source").agg(qm(col("digest")).as("digest"))
    quantileFacts(spark, weekly, ev.select("source", "v"), k, m)
      .withColumnRenamed("source", "week")
  }

  /** The kind tag of the daily cents q-digest store (t37). */
  private[graft] val QdigestStoreKind = "qdigest-cents-daily"

  /** The t37 SERVE plan: weekly digest rollup read from a persisted
    * [[graft.ext.SketchStore]] ALONE — merge the stored daily digest
    * maps per week with [[graft.functions.QDigestMergeAggregator]].
    * Factored out so the plan spec can pin the g38 serving-path claim
    * on this family too: the executed plan scans only the store's
    * parquet, never the events. */
  private[graft] def qdigestStoreWeekly(spark: SparkSession,
      storePath: String, fromDay: String, toDay: String): DataFrame = {
    val qm = udaf(new graft.functions.QDigestMergeAggregator(
      graft.functions.QDigest.RollupK, graft.functions.QDigest.RollupM))
    graft.ext.SketchStore.readRange(spark, storePath, QdigestStoreKind,
      fromDay, toDay)
      .groupBy("source").agg(qm(col("digest")).as("digest"))
  }

  /** t37 — the q-digest rollup (t36) routed through the persisted
    * [[graft.ext.SketchStore]], its third sketch family: t36 computes
    * its "persisted" daily digest rows in-query; this row lands them
    * in a real store on disk (map<long,long> payload under the
    * schema-agnostic layout, kind-tagged `qdigest-cents-daily`),
    * appends the LAST day as its own manifest-committed increment,
    * and serves the weekly value-distribution rollup from the STORED
    * frames alone — no events scan in the serve plan (plan-spec
    * pinned via [[qdigestStoreWeekly]]), O(days × ≤3k-entry) digest
    * rows at serve time. Facts are t36's exactly (exact n, the
    * rank-definition exact weekly quantile, and the merge-order-
    * independent ε·n bound pinned TRUE — the bound is what holds
    * under ANY merge tree, including the parquet round trip plus
    * incremental append this store adds) plus `n_days_stored`. No
    * bit-identity pin on this family BY DESIGN: digest compression is
    * merge-tree state (the t35/s20 discipline), the bound is the
    * contract. */
  def quantileStoreServe(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.QDigest.RollupM
    val k = graft.functions.QDigest.RollupK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("source"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      graft.functions.QDigest.clampToUniverse(
        graft.ops.Viewing.cents, m).as("v"))
    val qd = udaf(new graft.functions.QDigestAggregator(k, m))
    // the build side: ONE events scan producing the tiny daily rows
    val daily = ev.groupBy("source", "day").agg(qd(col("v")).as("digest"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_t37")
    try {
      val days = daily.select("day").distinct()
        .collect().map(_.getString(0)).sorted // O(days) driver rows
      val store = s"$tmpRoot/store"
      graft.ext.SketchStore.save(daily.filter(col("day") < days.last),
        store, QdigestStoreKind)
      graft.ext.SketchStore.appendDays(
        daily.filter(col("day") === days.last), store, QdigestStoreKind)
      // SERVE from the stored frames alone — the merged weekly digests
      // are materialized driver-side (|weeks| rows × ≤3k-entry maps)
      // before the temp store goes away: the returned frame must not
      // lazily re-scan a deleted path
      import spark.implicits._
      val weekly = qdigestStoreWeekly(spark, store, days.head, days.last)
        .as[(String, Map[Long, Long])].collect().toSeq
        .toDF("source", "digest")
      quantileFacts(spark, weekly, ev.select("source", "v"), k, m)
        .withColumnRenamed("source", "week")
        .withColumn("n_days_stored", lit(days.length.toLong))
    } finally {
      daily.unpersist(blocking = false)
      org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot.toFile)
    }
  }

  /** s20: the STREAMING distribution monitor
    * ([[graft.streaming.Streaming.sourceLengthDigests]]) — t35's
    * q-digest produced by a real streaming aggregation over the
    * arriving documents, then pushed through the same fact/audit
    * finishing stage. The digest contents depend on the micro-batch
    * merge tree, but every emitted fact is merge-order-independent
    * (exact n + exact quantile + the ε·n bound that holds under ANY
    * merge tree — the mergeable-summaries contract), so t35's oracle
    * SQL covers this run verbatim: the s16 = v9 pattern, with a bound
    * where bit-equality is not promised. */
  def streamQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.QDigest.DefaultM
    val k = graft.functions.QDigest.DefaultK
    val digests = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.sourceLengthDigests(
        graft.streaming.Streaming.documentsStream(spark, dir), k, m))
    val vals = Tables.documents(spark, dir).select(col("source"),
      graft.functions.QDigest.clampToUniverse(col("n_chars"), m).as("v"))
    quantileFacts(spark, digests, vals, k, m)
  }

  /** t35/s20's shared finishing stage: the per-digest quantile walk
    * (typed flatMap over the |sources|-row digest frame) joined to the
    * exact-CDF audit side, emitting engine-exact facts plus the pinned
    * order-independent bound (see [[quantileSketch]]'s scaladoc). */
  private def quantileFacts(spark: SparkSession, digests: DataFrame,
      vals: DataFrame, k: Int, m: Int,
      phis: Seq[Int] = Seq(10, 50, 90, 99)): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val u = 1L << m
    val ests = digests.as[(String, Map[Long, Long])].flatMap {
      case (src, dg) =>
        val nSk = dg.valuesIterator.sum
        phis.map { p =>
          (src, p, graft.functions.QDigest.quantile(dg, m, p.toLong, 100L),
            dg.size.toLong, nSk)
        }
    }.toDF("source", "phi_pct", "est", "dsize", "n_sketch")
    val cdf = vals.groupBy("source", "v").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.partitionBy("source").orderBy("v")))
    val n = vals.groupBy("source").agg(count(lit(1)).as("n"))
    val tgt = broadcast(ests.join(n, "source")
      .withColumn("target", expr("(n * phi_pct + 99) div 100")))
    // ONE pass over the CDF computes the exact quantile (min v whose
    // inclusive rank reaches the target) and both ranks of the
    // ESTIMATE (the audit side) as conditional aggregates — not three
    // separate joins re-deriving the window each time
    tgt.join(cdf, Seq("source"))
      .groupBy("source", "phi_pct")
      .agg(first("n").as("n"), first("target").as("target"),
        first("est").as("est"), first("dsize").as("dsize"),
        first("n_sketch").as("n_sketch"),
        min(when(col("cum") >= col("target"), col("v"))).as("exact_q"),
        max(when(col("v") <= col("est"), col("cum"))).as("rank_incl"),
        max(when(col("v") < col("est"), col("cum"))).as("rank_excl"))
      .na.fill(0L, Seq("rank_incl", "rank_excl"))
      .select(col("source"), col("phi_pct"), col("n"), col("exact_q"),
        (col("n_sketch") === col("n") &&
          col("dsize") <= 6L * k &&
          col("est") >= 0 && col("est") < u &&
          col("rank_incl") * k >= col("target") * k - lit(m.toLong) * col("n") &&
          col("rank_excl") * k <= col("target") * k + lit(m.toLong) * col("n"))
          .as("sketch_ok"))
  }

  def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(
      TextAnalysis.qualitySignals(Tables.documents(spark, dir)))
      .select("doc_id", "n_tokens", "stopword_ratio", "punct_ratio",
        "mean_token_len", "quality")

  def langId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdFrame(Tables.documents(spark, dir))
      .select("doc_id", "lang_pred")

  def redactedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("redacted"))

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Driver-checkable bounds for t4: the fingerprint VALUES live in the
    * xxhash64 domain no oracle can recompute, but their structural
    * contract is checkable — identical texts must share a fingerprint
    * (distinct fp ≤ distinct text), collisions must be rare (≥ 90% of
    * distinct texts keep distinct fingerprints), and every value stays
    * in the pmod range [0, 2^31). The oracle recomputes the corpus
    * counts and pins `fp_ok = TRUE`. */
  def fingerprintBounded(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("text"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        countDistinct(col("fp")).as("nfp"),
        min("fp").as("minfp"), max("fp").as("maxfp"))
      .select(col("n_docs"), col("n_distinct_text"),
        (col("nfp") <= col("n_distinct_text") &&
          col("nfp") >= col("n_distinct_text") * lit(0.9) &&
          col("minfp") >= 0 && col("maxfp") < 2147483647L).as("fp_ok"))

  /** Corpus-level top-20 bigrams by frequency (deterministic total-order
    * tie-break). The plan is scan → explode → partial-combined count →
    * TakeOrderedAndProject: the global sort never materializes, each
    * partition ships only its top 20 — the shape that survives a 100 TB
    * corpus where the naive orderBy would sort billions of ngram rows. */
  def topNgrams(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.registerNgrams(spark)
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .filter(size(toks) >= 2)
      .select(explode(graft.functions.TextExpressions.ngrams(toks, 2))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(20)
  }

  /** Deterministic fixed-k per-group sample: order docs inside each
    * source by md5(doc_id) — a stable pseudo-random shuffle both engines
    * compute identically — and keep the first 5. The re-runnable way to
    * cut eval subsets from a moving corpus (rand()-based sampling isn't
    * reproducible across partitionings; hash order is). */
  def samplePerSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("doc_id"), col("rk").cast("int").as("rk"))
  }

  /** t34 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-Res): each doc draws key = u^(1/w) from a uniform u and its
    * weight w; the global top-K by key is a size-K weighted sample —
    * long docs (here w = n_chars) are proportionally more likely to
    * survive, yet no doc appears twice. The corpus-curation primitive
    * between t10's unweighted per-group cut and t12's with-replacement
    * epoch mixing: "give me a 1000-doc eval set biased toward
    * substantial documents, reproducibly".
    *
    * Engine-exact determinism (t7/t31 discipline composed): u comes
    * from md5(doc_id) — 52 hash bits centered to (0,1), never rand()
    * — and the key is compared in log space, ln(u)/w, quantized to
    * integer PICOnats before ranking (one ln + one divide per row),
    * ties broken by doc_id. The cross-engine agreement is
    * PROBABILISTIC, not a theorem: a last-ulp ln() difference flips a
    * key only when the product sits within ~1 ulp of a .5 grid
    * boundary (≈1e-7 per row on this grid — both engines round half
    * away from zero, so the rounding RULE itself never diverges), and
    * a flipped key changes the SAMPLE only if that row straddles the
    * rank-K cut. Scale
    * shape: per-row map + `orderBy.limit(K)` = TakeOrderedAndProject
    * — k-bounded partial top-K per partition merged on the driver, NO
    * global sort, nothing shuffles but K-row partials (pinned in
    * PlanSpec). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 1000
    val two52 = 4503599627370496.0 // 2^52
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(two52)
    Tables.documents(spark, dir)
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"), col("n_chars"),
        round(log(u) / col("n_chars").cast("double") * lit(1.0e12))
          .cast("long").as("key_pnat"))
      .orderBy(col("key_pnat").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Deterministic hash-bucket train/test split (80/20). */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.DataSplit.withSplit(
      Tables.documents(spark, dir).select("doc_id"), "doc_id")

  /** Leakage-safe train/test split: hash-bucket on the near-dup CLUSTER
    * id (x9's connected components), not the doc id, so near-duplicate
    * docs can never straddle the split — the leakage a naive per-doc
    * split silently allows. Unclustered docs split by their own id
    * (each is its own singleton cluster). */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val clusters = Dedup.connectedComponents(
      Dedup.jaccardPairs(Tables.documents(spark, dir), n = 3, threshold = 0.5,
        maxShingleDf = Some(100)))
    docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.ext.DataSplit.split(coalesce(col("cluster_id"), col("doc_id")))
          .as("split"))
  }

  /** Vocabulary extraction for tokenizer training: every word with its
    * corpus count and document frequency, floored at minCount=3. One
    * explode + one partial-combined aggregation; no windows, no sorts —
    * the downstream tokenizer trainer consumes the whole table. */
  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
      .filter(col("n") >= 3)

  /** t26: BPE pair statistics over the word-frequency dictionary —
    * see [[graft.ext.TextAnalysis.bpePairStats]]. */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairStats(Tables.documents(spark, dir))

  /** t27: per-source stopword-profile KL drift —
    * see [[graft.ext.TextAnalysis.sourceDrift]]. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceDrift(Tables.documents(spark, dir))

  /** Gopher-style repetition signals (most-frequent word/bigram
    * multiplicity, duplicated-bigram mass) — zero-shuffle per-row scans. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(Tables.documents(spark, dir))

  /** Deterministic weighted corpus mixing: src0 ×2, src1 ×1.5, src2
    * ×0.25, everything else ×0.75 — epoch up-sampling of curated
    * sources, down-sampling of the crawl tail. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    graft.ext.DataSplit.mix(
      Tables.documents(spark, dir).select("doc_id", "source"), "doc_id",
      Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.25),
      defaultWeight = 0.75)

  /** GPT-style token-offset sharding of the doc_id-ordered token stream
    * into 2048-token training sequences (two-pass prefix sum — no
    * single-partition global window). */
  def tokenShards(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.tokenOffsets(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
      seqLen = 2048)

  /** The packed-sequence manifest over t13's offsets: one row per
    * (sequence, doc) slice; each sequence's slices tile [0, 2048). */
  def seqManifest(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.sequenceManifest(tokenShards(spark, dir), seqLen = 2048)

  /** Sub-document boilerplate removal: 8-word segments occurring in >2
    * docs are dropped, docs reassembled in order. */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(Tables.documents(spark, dir), segWords = 8, maxDf = 2)

  /** Exact substring dedup via overlapping 8-token windows — duplicated
    * spans excised at any alignment. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(Tables.documents(spark, dir), window = 8)

  /** Round-6 composite, pinning the NEW operators' composition the way
    * x11 pins the round-3 set: exact-dedup keep-first → span-removal
    * substring dedup on the survivors → repetition gate (≥5 words,
    * top word ≤20% of tokens, duplicated-bigram mass ≤30%) — integer
    * threshold arithmetic so the oracle is exact. */
  def cleanCorpusV2(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.dedupKeepFirst(Tables.documents(spark, dir))
    val spans = Dedup.dedupSpans(deduped, window = 8)
    val sig = TextAnalysis.repetitionSignals(spans, textCol = "clean_text")
    sig.join(deduped.select("doc_id", "source"), "doc_id")
      .filter(col("n_words") >= 5 &&
        col("top_word_n") * 5 <= col("n_words") &&
        col("dup_bigram_n") * 10 <= col("n_bigrams") * 3)
      .select("doc_id", "source", "n_words")
  }

  /** Custom typed Aggregator coverage: exact top-3 docs per source by
    * length — bounded k-entry buffers make the map-side partials tiny
    * (vs a row_number window that shuffles every row). Oracle: the
    * equivalent window query. */
  def topDocsPerSource(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top_ids"))
      .select(col("source"), posexplode(col("top_ids")).as(Seq("rk0", "doc_id")))
      .select(col("source"), (col("rk0") + 1).as("rk"), col("doc_id"))
  }

  /** t18: per-source ADAPTIVE quality gate — keep each source's
    * top-half by quality score (vs s8's fixed 0.5 threshold, which
    * over-prunes clean sources and under-prunes noisy ones). Plan
    * shape chosen for scale: per-source thresholds via one aggregation
    * (tiny result, broadcast back) + a semi-filtering join — NOT a
    * percent_rank window, which would sort every row of a source in
    * one task. Exact `percentile` here; at 100 TB swap in
    * approx_percentile (t-digest, mergeable partials) exactly like
    * g21. */
  def qualityGateAdaptive(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(
      TextAnalysis.qualitySignals(Tables.documents(spark, dir)))
      .select("doc_id", "source", "quality")
    val thr = q.groupBy("source")
      .agg(expr("percentile(quality, 0.5D)").as("q50"))
    q.join(broadcast(thr), "source")
      .filter(col("quality") >= col("q50"))
      .select("doc_id", "source", "quality")
  }

  /** t19: BM25 relevance scores for a fixed query-term set over the
    * documents table — see [[TextAnalysis.bm25]] for the two-scan /
    * zero-corpus-shuffle shape and the integer-aggregate determinism
    * argument. */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(Tables.documents(spark, dir),
      Seq("spark", "vector", "stream"))

  /** t31: char-bigram LM negative-log-likelihood quality score —
    * see [[graft.ext.LmQuality.bigramNll]] for the µnat-quantization
    * determinism argument and the bounded-broadcast scale shape. */
  def bigramNll(spark: SparkSession, dir: String): DataFrame =
    graft.ext.LmQuality.bigramNll(Tables.documents(spark, dir))

  /** t32: Naive-Bayes log-odds quality classifier (the closed form of
    * the fastText-style "target vs other" filter) — see
    * [[graft.ext.LmQuality.nbQualityScore]] for the µnat quantization
    * and the minCount-bounded broadcast-model scale shape. */
  def nbQualityScore(spark: SparkSession, dir: String): DataFrame =
    graft.ext.LmQuality.nbQualityScore(Tables.documents(spark, dir))

  /** t28: per-document top-3 TF-IDF keywords
    * ([[graft.ext.TextAnalysis.tfidfKeywords]]). */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfKeywords(Tables.documents(spark, dir), k = 3)

  /** t29: quality-greedy selection under a 10K-token budget
    * ([[graft.ext.TextAnalysis.tokenBudgetSelect]]) — the two-level
    * prefix-sum form of a global running total. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenBudgetSelect(Tables.documents(spark, dir),
      budgetTokens = 10000L)

  /** t30: tokenizer encode over the corpus with a 20-merge table
    * trained by t26's pair statistics
    * ([[graft.ext.TextAnalysis.tokenizerEncode]]) — every token id of
    * every document is oracle-checked (DuckDB re-trains the table and
    * re-runs the greedy scan as a recursive CTE). */
  def tokenizerEncode(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenizerEncode(Tables.documents(spark, dir), nMerges = 20)

  /** t20: CCNet-style LM quality filter — bigram-LM coverage against the
    * `en` target subset; see [[graft.ext.LmQuality.lmCoverage]] for the
    * broadcast-LM / integer-mass shape. */
  def lmCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.ext.LmQuality.lmCoverage(Tables.documents(spark, dir))

  /** t21: DSIR-style importance-weighted selection — hashed-feature
    * target/source mass ratio, top-100; see
    * [[graft.ext.LmQuality.importanceRatio]]. */
  def importanceRatio(spark: SparkSession, dir: String): DataFrame =
    graft.ext.LmQuality.importanceRatio(Tables.documents(spark, dir))

  /** t22: fixed-size overlapping RAG chunking (64-token windows,
    * stride 48) — see [[graft.ext.Retrieval.chunks]] for the zero-
    * shuffle / stable-chunk-id shape. */
  def ragChunks(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.chunks(Tables.documents(spark, dir))

  /** t23: positional inverted index — the registered band [2, 500]
    * spans this corpus's whole 31-token vocabulary so the oracle
    * checks every posting list; the production mid-band defaults and
    * the stopword-dropping broadcast shape live in
    * [[graft.ext.Retrieval.invertedIndex]]. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.invertedIndex(Tables.documents(spark, dir),
      minDf = 2, maxDf = 500)

  /** x21: change magnitude over x19's snapshots — old/new revision
    * Jaccard for every changed doc ([[graft.ext.Dedup.changeMagnitude]]);
    * the " [recrawled]" suffix planted by the snapshot rule is exactly
    * the trivial-churn case the `minor` flag exists to catch. */
  def changeMagnitude(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(spark, dir)
    Dedup.changeMagnitude(oldSnap, newSnap)
  }

  /** The deterministic snapshot pair shared by x19/s11/x20/x21: old =
    * salted buckets [0, 90%), new = [10%, 100%) with the [40%, 50%)
    * band re-crawled (suffix-changed) content. */
  private def snapshots(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val b = docs.withColumn("bucket",
      graft.ext.DataSplit.bucketSalted(col("doc_id"), "#snap"))
    val oldSnap = b.filter(col("bucket") < 58982).select("doc_id", "text")
    val newSnap = b.filter(col("bucket") >= 6554)
      .select(col("doc_id"),
        when(col("bucket") >= 26214 && col("bucket") < 32768,
          concat(col("text"), lit(" [recrawled]")))
          .otherwise(col("text")).as("text"))
    (oldSnap, newSnap)
  }

  /** x20: corpus refresh — the decision layer a living corpus runs on
    * every crawl: x19's snapshot delta classifies what arrived, then
    * each added/changed document is admitted only if it (a) is not an
    * exact duplicate of standing-corpus content and (b) passes the
    * quality gate. Emits (doc_id, status, action) with action ∈
    * admit_new | admit_update | reject_dup | reject_quality —
    * delta-sized, like every stage it composes.
    *
    * Scale shape inherits from the composed stages: the delta is x19's
    * digest join, the dup check joins the CANDIDATES (delta-sized)
    * against the standing digest index (never the text), and the
    * quality gate is per-row codegen. Nothing in the pipeline shuffles
    * corpus-sized text. */
  def corpusRefresh(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(spark, dir)
    refreshDecisions(oldSnap, newSnap)
  }

  /** The frame-level decision core of x20 (see [[corpusRefresh]]). */
  def refreshDecisions(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val delta = Dedup.snapshotDiff(oldSnap, newSnap)
      .filter(col("status") =!= "removed")
    val cands = newSnap.join(delta, Seq("doc_id"))
    val oldDigests = oldSnap
      .select(sha2(col("text"), 256).as("_sha")).distinct()
      .withColumn("_dup", lit(1))
    TextAnalysis.qualityScore(TextAnalysis.qualitySignals(cands))
      .withColumn("_sha", sha2(col("text"), 256))
      .join(oldDigests, Seq("_sha"), "left_outer")
      .select(col("doc_id"), col("status"),
        when(col("_dup").isNotNull, "reject_dup")
          .when(col("quality") < 0.5, "reject_quality")
          .when(col("status") === "added", "admit_new")
          .otherwise("admit_update").as("action"))
  }

  /** x22: next snapshot — APPLY x20's decisions and materialize the
    * refreshed corpus: surviving old revisions (everything still
    * present and not superseded — changed-but-rejected docs keep their
    * old text, so a bad re-crawl never corrupts the corpus) unioned
    * with the admitted new revisions. The union is id-disjoint by
    * construction; output size = |old| − removed − rejected_adds +
    * admitted.
    *
    * Scale shape: two id-semi-joins against delta-sized decision sets
    * plus one delta-sized text pull — the standing corpus streams
    * through untouched except for its membership probes; at 100 TB
    * with id-bucketed snapshot storage both probes are exchange-free. */
  def nextSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(spark, dir)
    val acts = refreshDecisions(oldSnap, newSnap)
    val admitted = acts
      .filter(col("action").isin("admit_new", "admit_update"))
      .join(newSnap, Seq("doc_id")).select("doc_id", "text")
    val survivors = oldSnap
      .join(newSnap.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(acts.filter(col("action") === "admit_update").select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
    survivors.union(admitted)
  }

  /** t25: phrase search for the corpus's top bigram — the
    * deterministic query that exercises the positional intersection
    * ([[graft.ext.Retrieval.phraseSearch]]) with an oracle that can
    * re-derive the same phrase. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (w1, w2) = graft.ext.Retrieval.topBigram(docs)
    graft.ext.Retrieval.phraseSearch(docs, Seq(w1, w2))
  }

  /** t24: per-document novelty — fraction of each doc's distinct
    * shingles unseen anywhere else in the corpus; see
    * [[graft.ext.Dedup.noveltyScores]] for the hash-only shuffle shape. */
  def noveltyScores(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.noveltyScores(Tables.documents(spark, dir))

  /** x18: cross-source shingle-Jaccard overlap matrix — the corpus-
    * composition diagnostic; see [[graft.ext.Dedup.sourceOverlap]] for
    * the bounded-fan-out self-join argument. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.sourceOverlap(Tables.documents(spark, dir))

  /** x19: snapshot diff ([[graft.ext.Dedup.snapshotDiff]]) exercised on
    * two deterministic snapshots carved from `documents` with the
    * salted md5-bucket rule (salt decorrelates from the t7 split):
    * old = buckets [0, 90%), new = buckets [10%, 100%), and docs in
    * buckets [40%, 50%) get a " [recrawled]" suffix in the new
    * snapshot — so all three statuses (added / removed / changed)
    * appear and the oracle can rebuild both sides exactly. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(spark, dir)
    Dedup.snapshotDiff(oldSnap, newSnap)
  }

  /** v10: per-source centroid outliers
    * ([[graft.ext.Similarity.centroidOutliers]]) — embeddings keyed to
    * their document's source (vec_id ≡ doc_id in the testdata), scored
    * against a deterministic 256-sample fixed-point centroid. */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    Similarity.centroidOutliers(emb.join(src, "vec_id"))
  }

  /** v12: persisted-IVF-index round trip
    * ([[graft.ext.Similarity.saveIvfIndex]] / `ivfTopKFromIndex`) —
    * build the index under a temp dir, answer the v3 query batch from
    * storage, and pin result identity with the in-memory build (the
    * probe/re-rank stage is shared code; float/double vectors
    * round-trip parquet bit-exactly). The serving form of the ANN
    * family: at scale the partitioned lists give every query batch a
    * dynamic-partition-pruned scan (ExtSpec pins the pruning filter).
    * Driver-checkable bounded output: (n_queries, identical=TRUE). */
  /** v13: 2-round Lloyd k-means over the embeddings, k = 8 —
    * see [[graft.ext.Similarity.kmeansLloyd]] for the quantized-
    * centroid cross-engine determinism argument. */
  def kmeansLloyd(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansLloyd(Tables.embeddings(spark, dir), k = 8, iters = 2)

  /** v16: MMR-diversified retrieval over the first 10 query vectors —
    * see [[graft.ext.Similarity.mmrTopK]] for the fixed-point
    * engine-exactness argument (the whole greedy trajectory is
    * oracle-checked, not just a recall bound). */
  /** v17: cosine radius search over the embeddings table — see
    * [[graft.ext.Similarity.rangeSearch]] for the µ-cosine
    * bit-stability and zero-shuffle arguments. */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.rangeSearch(Tables.embeddings(spark, dir))

  def mmrTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(Tables.embeddings(spark, dir),
      nQueries = 10, nCand = 20, k = 5)

  /** v15: cluster-balanced corpus selection — the DataComp/DCLM-style
    * diversity-stratified pick. v13's Lloyd clusters stratify the
    * corpus and each cluster contributes its top-10 docs by
    * (n_chars desc, doc_id asc): a GLOBAL quality top-N would
    * over-sample the dominant semantic mode, per-cluster quotas keep
    * the selection diverse by construction.
    *
    * Scale shape: selection is the k-bounded [[graft.functions
    * .TopKAggregator]] (map-side partials, ≤10 (score, id) pairs per
    * cluster per partition) — never a per-cluster `row_number` window,
    * which would funnel corpus/k rows through one partition; the
    * n_chars re-attach joins the ≤10·k-row selection back against the
    * docs (AQE broadcasts the tiny side). Oracle: the full v13
    * assignment recompute (km CTE) + the same rank, engine-exact
    * because the quantized centroids pin assignments and the rank
    * basis is an integer with an id tie-break. */
  def clusterBalancedSelect(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Similarity.kmeansLloyd(
      Tables.embeddings(spark, dir), k = 8, iters = 2)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val topm = udaf(new graft.functions.TopKAggregator(10))
    val sel = clusters.join(docs, col("vec_id") === col("doc_id"))
      .groupBy("cluster")
      .agg(topm(col("n_chars").cast("double"), col("doc_id")).as("ids"))
      .select(col("cluster"), posexplode(col("ids")).as(Seq("rk0", "doc_id")))
      .select(col("cluster"), col("doc_id"), (col("rk0") + 1).cast("int").as("rk"))
    sel.join(docs, "doc_id").select("cluster", "doc_id", "n_chars", "rk")
  }

  /** s19: STREAMING vector-index TAKEDOWN — v19's removal discipline
    * with the deletes arriving as a real stream
    * ([[graft.streaming.Streaming.ivfDeleteStream]]), the IVF twin of
    * s18 and the last edge of the streaming CRUD symmetry (ingest
    * s15/s16, serve s17, delete s18/s19). The doomed md5-bucket range
    * streams in as three micro-batches of tombstones (each landing
    * exactly once in its own batch_id dir); the query batch is then
    * served against the takedown-streamed index and must equal a
    * SAME-QUANTIZER rebuild over the survivors — streaming the
    * deletes changes nothing about what deletion means. Emits
    * `n_queries` and `identical` (v12's oracle form). */
  def streamIvfDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val doomed = standing.filter(b >= 39321)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s19")
    try {
      val incPath = tmpRoot.toString + "/idx"
      Similarity.saveIvfIndex(standing, incPath, nList = 8, nIters = 1)
      val in = tmpRoot.toString + "/in"
      doomed.select("vec_id").repartition(3).write.parquet(in)
      val src = spark.readStream
        .schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = graft.streaming.Streaming.ivfDeleteStream(
        src, incPath, tmpRoot.toString + "/ck")
      q.awaitTermination()
      val queries = emb.filter(col("vec_id") < 10)
      // the tombstoned serve (k-bounded, pinned eagerly) and the
      // rebuild twin's build are independent jobs — overlapped
      // (guide §2.6); no later mutation, so the pin is for overlap
      // only, not ordering
      val rbPath = tmpRoot.toString + "/rebuild"
      var fromTomb: DataFrame = null
      graft.ext.IndexLayout.inParallel[Unit](Seq(
        () => fromTomb = graft.ext.Checkpoints.ckptLocal(
          Similarity.ivfTopKFromIndex(spark, incPath, queries,
            k = 5, nProbe = 4)),
        () => Similarity.saveIvfIndexWithCentroids(
          standing.filter(b < 39321),
          Similarity.loadIvfCentroids(spark, incPath), rbPath)))
      val fromRebuild = Similarity.ivfTopKFromIndex(spark, rbPath, queries,
        k = 5, nProbe = 4)
      val identical = multisetEq(fromTomb, fromRebuild)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v21: int8-STORED persisted IVF index — the storage variant the
    * manifest exists for: `storage = "int8"` is a stored build
    * parameter, the probe frame holds per-vector scalar-quantized
    * int8 rows (every probed scan reads ~1/4 the bytes — at 100 TB of
    * embeddings the difference between a probe that fits the page
    * cache and one that doesn't), and a parallel list-partitioned
    * full-precision frame is read ONLY for the bounded exact re-rank
    * of probed candidates. Identity pin: the int8 index must serve
    * RANK-IDENTICALLY to a full-precision index under the SAME stored
    * quantizer and probes (the 4× over-fetch recovers full-precision
    * ranks — [[graft.ext.Similarity.quantizedTopK]]'s argument inside
    * the probed lists). Emits `n_queries` and `identical` (v12's
    * oracle form). */
  def ivfIndexQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_v21")
    try {
      val fpPath = tmpRoot.toString + "/fp"
      val qPath = tmpRoot.toString + "/int8"
      // the quantizer is trained ONCE and handed to both builds (the
      // old form trained it in the fp build and read it back for the
      // int8 one — double-precision parquet round-trips bit-stably, so
      // the handed-in frame IS what loadIvfCentroids returned); with
      // the training hoisted the two builds are independent jobs on
      // disjoint directories — overlapped (guide §2.4/§2.6)
      val cent = graft.ext.Checkpoints.ckptLocal(
        Similarity.ivfCentroids(emb, nList = 8, nIters = 1))
      graft.ext.IndexLayout.inParallel[Unit](Seq(
        () => Similarity.saveIvfIndexWithCentroids(emb, cent, fpPath),
        () => Similarity.saveIvfIndexWithCentroids(emb, cent, qPath,
          storage = "int8")))
      val queries = emb.filter(col("vec_id") < 10)
      val fromFp = Similarity.ivfTopKFromIndex(spark, fpPath, queries,
        k = 5, nProbe = 4)
      val fromQ = Similarity.ivfTopKFromIndex(spark, qPath, queries,
        k = 5, nProbe = 4)
      val identical = multisetEq(fromQ, fromFp)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v22: the `storage = "pq"` persisted IVF index (packed one-long
    * RESIDUAL PQ codes in the probe frame — ~32× below fp bytes, the
    * shape a 100 TB embedding corpus actually serves from) must serve
    * RANK-IDENTICALLY to a full-precision index under the SAME stored
    * quantizer and probes. Identity here is CORPUS-AND-OVERFETCH-
    * dependent, not a theorem (PQ error is larger than int8's): the
    * registered overFetch = 32 re-ranks ~6% of the probed candidates
    * at sf0.1 and recovers fp ranks exactly on this corpus at all
    * three SFs (measured; the honest scale statement is v22b's recall
    * floor at the default overFetch). Emits v12's oracle form. */
  def ivfIndexPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_v22")
    try {
      val fpPath = tmpRoot.toString + "/fp"
      val qPath = tmpRoot.toString + "/pq"
      // one training, two overlapped builds — v21's rationale verbatim
      val cent = graft.ext.Checkpoints.ckptLocal(
        Similarity.ivfCentroids(emb, nList = 8, nIters = 1))
      graft.ext.IndexLayout.inParallel[Unit](Seq(
        () => Similarity.saveIvfIndexWithCentroids(emb, cent, fpPath),
        () => Similarity.saveIvfIndexWithCentroids(emb, cent, qPath,
          storage = "pq")))
      val queries = emb.filter(col("vec_id") < 10)
      val fromFp = Similarity.ivfTopKFromIndex(spark, fpPath, queries,
        k = 5, nProbe = 4)
      val fromQ = Similarity.ivfTopKFromIndex(spark, qPath, queries,
        k = 5, nProbe = 4, overFetch = 32)
      val identical = multisetEq(fromQ, fromFp)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v22b: recall@5 floor for the pq-stored index at the DEFAULT
    * overFetch — the honest at-scale statement (v14b's form): even
    * with the coarse prune × residual PQ stack on RANDOM vectors (both
    * approximations' worst case) the served top-5 must contain ≥ 2 of
    * the true brute-force top-5 per query. */
  def ivfIndexPqRecallBounded(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_v22b")
    try {
      val qPath = tmpRoot.toString + "/pq"
      Similarity.saveIvfIndex(emb, qPath, nList = 8, nIters = 1,
        storage = "pq")
      val exact = Similarity.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val served = Similarity.ivfTopKFromIndex(spark, qPath, q,
          k = 5, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = served.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val out = exact.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)) >= 2).as("recall_ok"))
        .collect().toSeq
      // materialized before cleanup deletes the index files
      import spark.implicits._
      out.map(r => (r.getLong(0), r.getBoolean(1)))
        .toDF("query_id", "recall_ok")
    } finally deleteTempTree(tmpRoot)
  }

  def ivfIndexPersist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
    val path = tmpRoot.toString + "/idx"
    try {
      Similarity.saveIvfIndex(emb, path, nList = 8, nIters = 1)
      val queries = emb.filter(col("vec_id") < 10)
      val mem = Similarity.ivfTopK(emb, queries, k = 5,
        nList = 8, nProbe = 4, nIters = 1)
      val idx = Similarity.ivfTopKFromIndex(spark, path, queries,
        k = 5, nProbe = 4)
      val identical = multisetEq(mem, idx)
      // the result is a driver-side local relation (the identity probes
      // above are eager), so nothing lazy still reads the index files
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v18: persisted IVF index APPEND — the daily-maintenance pin for
    * the vector index (x26c's discipline applied to embeddings). The
    * v9 split (md5 buckets: 80% standing, 20% batch) builds the index
    * on the standing vectors, appends the batch via
    * [[graft.ext.Similarity.appendToIvfIndex]] (assigned by the STORED
    * centroids, O(batch) partition-appends), and serves a query batch
    * from the appended index. Identity pin: the served top-k must
    * equal the same probe against a REBUILD of the lists over
    * standing ∪ batch under the SAME centroids — exact, because
    * assignment is per-row independent of everything but the fixed
    * quantizer and float vectors round-trip parquet bit-stably. Emits
    * (n_queries, identical) — v12's oracle form. */
  def ivfIndexAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val batch = emb.filter(b >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_append")
    try {
      val incPath = tmpRoot.toString + "/inc"
      Similarity.saveIvfIndex(standing, incPath, nList = 8, nIters = 1)
      Similarity.appendToIvfIndex(spark, incPath, batch)
      val queries = emb.filter(col("vec_id") < 10)
      val fromAppended = Similarity.ivfTopKFromIndex(spark, incPath, queries,
        k = 5, nProbe = 4)
      // rebuild twin: SAME stored quantizer, lists re-assigned over the
      // full union in one pass — the form the append must be equal to
      val rbPath = tmpRoot.toString + "/rebuild"
      Similarity.saveIvfIndexWithCentroids(standing.unionByName(batch),
        Similarity.loadIvfCentroids(spark, incPath), rbPath)
      val fromRebuild = Similarity.ivfTopKFromIndex(spark, rbPath, queries,
        k = 5, nProbe = 4)
      val identical = multisetEq(fromAppended, fromRebuild)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v19: persisted IVF index DELETE — x26d's removal discipline
    * applied to the vector index, completing its CRUD lifecycle (build
    * v12 / append v18 / delete+compact here). The index is built on
    * the standing split, the upper md5-bucket range [39321, 52428) is
    * deleted via [[graft.ext.Similarity.deleteFromIvfIndex]] (an
    * O(delete) tombstone append), and a query batch is served three
    * ways: (a) tombstoned (merge-on-read: candidates struck after the
    * probe join, freed top-k slots go to the next-best neighbors), (b)
    * after [[graft.ext.Similarity.compactIvfTombstones]] physically
    * removed the rows (list-pruned rewrite), and (c) against lists
    * re-assigned over standing∖doomed under the SAME stored quantizer
    * (v18's rebuild form — the coarse quantizer is immutable across
    * maintenance, so rebuild must reuse it for the identity to be
    * meaningful). Identity pin: all three served top-k sets are
    * exactly equal. Emits (n_queries, identical). */
  def ivfIndexDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val doomed = standing.filter(b >= 39321)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_delete")
    try {
      val incPath = tmpRoot.toString + "/inc"
      Similarity.saveIvfIndex(standing, incPath, nList = 8, nIters = 1)
      Similarity.deleteFromIvfIndex(doomed.select("vec_id"), incPath)
      val queries = emb.filter(col("vec_id") < 10)
      // pinned EAGERLY (delta-sized): the compaction below deletes the
      // tombstone files and swaps list dirs this plan reads
      val fromTomb = graft.ext.Checkpoints.ckptLocal(
        Similarity.ivfTopKFromIndex(spark, incPath, queries,
          k = 5, nProbe = 4))
      // the compaction and the rebuild twin are independent jobs on
      // disjoint directories (the centroids the rebuild reuses are
      // carried UNTOUCHED through every flip, and retired dirs outlive
      // one full compaction interval by the grace contract) —
      // overlapped (guide §2.6). rebuild twin: SAME stored quantizer,
      // lists re-assigned over the surviving vectors in one pass
      val rbPath = tmpRoot.toString + "/rebuild"
      graft.ext.IndexLayout.inParallel(Seq(
        () => Similarity.compactIvfTombstones(spark, incPath),
        () => Similarity.saveIvfIndexWithCentroids(
          standing.filter(b < 39321),
          Similarity.loadIvfCentroids(spark, incPath), rbPath)))
      val fromCompacted = Similarity.ivfTopKFromIndex(spark, incPath, queries,
        k = 5, nProbe = 4)
      val fromRebuild = Similarity.ivfTopKFromIndex(spark, rbPath, queries,
        k = 5, nProbe = 4)
      val identical =
        multisetEq(fromTomb, fromRebuild) &&
          multisetEq(fromCompacted, fromRebuild)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** x33: minhash index AS-OF (snapshot-pinned) serve — the read-side
    * dividend of manifest-committed appends: every append/delete/flip
    * is one monotonic manifest commit (`_manifest-<seq>.json`), so a
    * serve can PIN a retained seq and see exactly the index as of that
    * commit while later maintenance lands. The regime: build on the
    * standing split (seq 0), widen retention as the index's OWN stored
    * parameter (seq 1 — [[graft.ext.IndexLayout.setManifestKeep]], not
    * the session-global conf), serve the probe batch (result R0),
    * append R0's admitted docs (seq 2, head result R1), then tombstone
    * part of the standing split (seq 3). Pins checked exactly:
    * serve@seq1 ≡ R0 (the append is invisible — previously-admitted
    * docs admit again) and serve@seq2 ≡ R1 (the append is visible but
    * the FUTURE delete is not — a pinned snapshot must not apply
    * deletes committed after it, while the head serve admits the
    * deleted docs' dups). Emits `n_batch` (oracle recomputes the
    * md5-bucket rule) with `pinned_pre_append` / `future_delete_invisible`
    * (both TRUE). */
  def minhashIndexAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val batch = docs.filter(bk >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_mh_asof")
    try {
      val path = tmpRoot.toString + "/idx"
      Dedup.saveMinhashIndex(standing, path, idBuckets = 48) // seq 0
      // the pins need the early seqs retained; the default keeps only
      // 2 — widen THIS index's retention as a stored layout parameter
      // (a leased commit, seq 1) instead of mutating the session-global
      // conf, which would leak into every concurrent commit
      graft.ext.IndexLayout.setManifestKeep(spark, path, 8) // seq 1
      // the probe batch is signed ONCE for its four serves (§2.4) —
      // frames are text-derived, so index mutations between serves
      // cannot affect them
      val bf = Dedup.minhashIndexFrames(batch)
      def serve(asOf: Option[Int]): DataFrame =
        Dedup.nearDupIngestFromPath(spark, path, batch, asOfSeq = asOf,
          batchFrames = Some(bf))
      // eager delta-sized pins: later maintenance swaps files under a
      // lazy plan, and the comparisons below interleave with commits
      val r0 = graft.ext.Checkpoints.ckptLocal(serve(None))
      // the append re-uses the batch's frames (the admitted slice of
      // per-doc rows, semi-joined on the eagerly-pinned r0) instead of
      // re-shingling the admitted docs from text (§2.4)
      def adm(df: DataFrame): DataFrame =
        df.join(r0, Seq("doc_id"), "left_semi")
      Dedup.appendToMinhashIndexFromFrames(spark, path,
        adm(bf._1), adm(bf._2), adm(bf._3)) // seq 2
      val r1 = graft.ext.Checkpoints.ckptLocal(serve(None))
      def eq(a: DataFrame, b: DataFrame): Boolean = multisetEq(a, b)
      val pinnedPreAppend = eq(serve(Some(1)), r0)
      Dedup.deleteFromMinhashIndex(
        standing.filter(bk >= 39321).select("doc_id"), path) // seq 3
      val futureDeleteInvisible = eq(serve(Some(2)), r1)
      bf._2.unpersist()
      Seq((batch.count(), pinnedPreAppend, futureDeleteInvisible))
        .toDF("n_batch", "pinned_pre_append", "future_delete_invisible")
    } finally deleteTempTree(tmpRoot)
  }

  /** x34: index COMMIT DIFF ([[graft.ext.IndexLayout.diffManifests]])
    * — the audit-trail verb the monotonic commit log enables: each
    * maintenance verb's effect reconstructed from two retained
    * manifests alone (no data read, no lease). The regime drives one
    * verb per commit — retention widened (seq 1), append (seq 2),
    * delete (seq 3), compaction (seq 4, gen 1), tombstone-free
    * rebucket (seq 5, gen 2) — and diffs each adjacent verb pair. Every emitted number is a LAYOUT
    * CONSTANT of the verb, independent of data and SF: an append adds
    * exactly one batch-root entry per staged frame (bands shown), a
    * delete adds exactly one tombstone batch, the compaction retires
    * both frames' two entries into one new root each, and the
    * rebucket touches neither (tombstone-free ⇒ bands/tombstones
    * carried) while flipping the stored `buckets` — so the oracle
    * states the full table as literals. The shingles/sizes diffs are
    * partition-count-dependent (the fold), so they surface as the
    * `composition_bounded` boolean (≤ buckets + 1 after every verb)
    * instead of counts.
    *
    * The fifth leg, `window`, diffs NON-ADJACENT commits — the whole
    * append→rebucket maintenance window in one call — proving the diff
    * is a WINDOW SUMMARY, not just a step function: the transient
    * batch roots the append and delete spliced in (`bands/aN`,
    * `tombstones/aN`) were folded away by the compaction inside the
    * window, so they appear on NEITHER side of the set diff — the
    * window reads as exactly one root replaced per frame (1 added,
    * 1 removed) plus the rebucket's `buckets` change and the two
    * flips' gen delta, where a SUM of the four step diffs would count
    * every transient twice. Retention for the wide horizon comes from
    * the index's own stored `manifestKeep` parameter
    * ([[graft.ext.IndexLayout.setManifestKeep]], one leased commit) —
    * never from mutating the session-global conf, which would leak
    * into concurrent commits on the shared session. */
  def indexDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val standing = docs.filter(bk < 52428)
    val batch = docs.filter(bk >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_x34")
    try {
      val p = tmpRoot.toString + "/idx"
      // the build and the append draw on ONE signing pass over the
      // corpus (guide §2.4; per-doc bucket filters of shared frames —
      // the x35 discipline); the verbs' commit-log effects, which are
      // what x34 diffs, are untouched
      val (db, dsh, dsz) = Dedup.minhashIndexFrames(docs)
      Dedup.saveMinhashIndexFromFrames(db.filter(bk < 52428),
        dsh.filter(bk < 52428), dsz.filter(bk < 52428), p,
        idBuckets = 48) // seq 0
      graft.ext.IndexLayout.setManifestKeep(spark, p, 16) // seq 1
      Dedup.appendToMinhashIndexFromFrames(spark, p,
        db.filter(bk >= 52428), dsh.filter(bk >= 52428),
        dsz.filter(bk >= 52428)) // seq 2
      dsh.unpersist()
      Dedup.deleteFromMinhashIndex(
        standing.filter(bk >= 39321).select("doc_id"), p) // seq 3
      Dedup.compactMinhashTombstones(spark, p) // seq 4, gen 1
      Dedup.rebucketMinhashIndex(spark, p, 96) // seq 5, gen 2
      def m(s: Int) = graft.ext.IndexLayout.readManifestAt(spark, p, s)
      val legs = Seq(("append", 1, 2), ("delete", 2, 3),
        ("compact", 3, 4), ("rebucket", 4, 5),
        ("window", 1, 5)).map { case (leg, a, b) =>
        val (gd, sd, perFrame, changed) =
          graft.ext.IndexLayout.diffManifests(m(a), m(b))
        val fm = perFrame.map(x => x._1 -> ((x._2, x._3))).toMap
        val mB = m(b)
        val bkts = graft.ext.IndexLayout.intParam(mB, p, "buckets")
        val bounded = Seq("shingles", "sizes").forall(f =>
          graft.ext.IndexLayout.frameEntries(mB, f).size <= bkts + 1)
        (leg, gd, sd, fm("bands")._1, fm("bands")._2,
          fm("tombstones")._1, fm("tombstones")._2,
          changed.mkString(","), bounded)
      }
      // driver-side local relation (manifests already read eagerly),
      // so nothing lazy reads the index files after cleanup
      legs.toDF("leg", "gen_delta", "seq_delta", "bands_added",
        "bands_removed", "tomb_added", "tomb_removed", "params_changed",
        "composition_bounded")
    } finally deleteTempTree(tmpRoot)
  }

  /** v26: IVF index AS-OF serve — x33's discipline on the vector
    * index: build on the standing split (seq 0, retention widened at
    * seq 1, head top-k R0), append the remainder (seq 2, head top-k
    * R1), tombstone a standing range (seq 3). Pins: serve@seq1 ≡ R0
    * (appended vectors invisible) and
    * serve@seq2 ≡ R1 (append visible, FUTURE delete not — the head
    * serve meanwhile re-fills the freed top-k slots). Emits
    * `n_queries` + the two TRUE pins. */
  def ivfIndexAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val batch = emb.filter(b >= 52428)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_asof")
    try {
      val path = tmpRoot.toString + "/idx"
      Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1) // seq 0
      // widen THIS index's retention as a stored layout parameter (one
      // leased commit) — not the session-global conf (x33's note)
      graft.ext.IndexLayout.setManifestKeep(spark, path, 8) // seq 1
      val queries = emb.filter(col("vec_id") < 10)
      def serve(asOf: Option[Int]): DataFrame =
        Similarity.ivfTopKFromIndex(spark, path, queries, k = 5, nProbe = 4,
          asOfSeq = asOf)
      val r0 = graft.ext.Checkpoints.ckptLocal(serve(None))
      Similarity.appendToIvfIndex(spark, path, batch) // seq 2
      val r1 = graft.ext.Checkpoints.ckptLocal(serve(None))
      def eq(a: DataFrame, b: DataFrame): Boolean = multisetEq(a, b)
      val pinnedPreAppend = eq(serve(Some(1)), r0)
      Similarity.deleteFromIvfIndex(
        standing.filter(b >= 39321).select("vec_id"), path) // seq 3
      val futureDeleteInvisible = eq(serve(Some(2)), r1)
      Seq((queries.count(), pinnedPreAppend, futureDeleteInvisible))
        .toDF("n_queries", "pinned_pre_append", "future_delete_invisible")
    } finally deleteTempTree(tmpRoot)
  }

  /** v23: persisted IVF index RETRAIN — the quantizer-replacement verb
    * ([[graft.ext.Similarity.retrainIvfIndex]]) that completes the
    * index lifecycle the immutable-quantizer contract leaves open:
    * after enough drift (v11's monitor) the operator schedules a
    * retrain, and this verb runs it WITHOUT the wipe-and-rebuild
    * no-index window — new centroids trained on the survivors, every
    * frame re-assigned and staged, one atomic flip updating the stored
    * `nList` and clearing the tombstones the rewrite resolved. The
    * regime: build at nList=8, delete the doomed md5-bucket range (so
    * the verb's tombstone-resolution leg is exercised), retrain to
    * nList=12, serve a query batch. Identity pin: the retrained serve
    * must EXACTLY equal the same serve against a fresh
    * [[graft.ext.Similarity.saveIvfIndex]] build at nList=12 over the
    * survivors — both trainings are deterministic over the identical
    * survivor multiset. Emits `n_queries`, `n_list_after` (the flipped
    * manifest's stored nList, read back by the serve path) and
    * `identical` (TRUE). */
  def ivfIndexRetrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val doomed = standing.filter(b >= 39321)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_retrain")
    try {
      val incPath = tmpRoot.toString + "/inc"
      val rbPath = tmpRoot.toString + "/rebuild"
      // the two legs are fully independent — the fresh twin trains its
      // OWN deterministic quantizer over the survivors, touching only
      // its own directory — so they run overlapped (guide §2.6)
      graft.ext.IndexLayout.inParallel(Seq(
        () => {
          Similarity.saveIvfIndex(standing, incPath, nList = 8, nIters = 1)
          Similarity.deleteFromIvfIndex(doomed.select("vec_id"), incPath)
          Similarity.retrainIvfIndex(spark, incPath, nList = 12, nIters = 1)
        },
        // fresh twin: the SAME deterministic training over the
        // identical survivor multiset — the form the retrain must be
        // equal to
        () => Similarity.saveIvfIndex(standing.filter(b < 39321), rbPath,
          nList = 12, nIters = 1)))
      val nListAfter = Similarity.ivfIndexParams(spark, incPath)("nList")
      val queries = emb.filter(col("vec_id") < 10)
      val fromRetrained = Similarity.ivfTopKFromIndex(spark, incPath, queries,
        k = 5, nProbe = 4)
      val fromFresh = Similarity.ivfTopKFromIndex(spark, rbPath, queries,
        k = 5, nProbe = 4)
      val identical = multisetEq(fromRetrained, fromFresh)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq((queries.count(), nListAfter.toLong, identical))
        .toDF("n_queries", "n_list_after", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** x31: index DESCRIBE ([[graft.ext.IndexLayout.describeIndex]]) —
    * the read-only ops-dashboard row for both index families. The
    * regime: build each family's index over its full table, take down
    * the deterministic md5-bucket ≥ 58982 range (~10%), describe. The
    * emitted facts are all engine-exact and SQL-recomputable: the
    * identity card (format, stored schemaVersion 1 for fp/minhash
    * layouts, generation 0 on a fresh build), the layout shape (one
    * composition entry per frame from the fresh build — 4 frames for
    * MinHash: bands/shingles/sizes/tombstones; 3 for a fp IVF:
    * centroids/lists/tombstones — plus ONE for the manifest-committed
    * tombstone batch the delete spliced in), the tombstone BACKLOG
    * (= the doomed
    * range's row count — the number an operator compares against
    * corpus size to schedule a compaction), a free lease (both delete
    * verbs released theirs), and zero retired dirs awaiting grace.
    * Describe itself is manifest + one delta-sized tombstone scan —
    * never a corpus-scale read — and takes no lease (lock-free like
    * the serves). */
  def indexDescribe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_x31")
    try {
      val mhPath = s"$tmpRoot/mh"
      val ivfPath = s"$tmpRoot/ivf"
      // the two families' build+delete fixtures are independent jobs —
      // disjoint directories, per-path leases — overlapped (guide §2.6)
      graft.ext.IndexLayout.inParallel(Seq(
        () => {
          Dedup.saveMinhashIndex(docs, mhPath)
          Dedup.deleteFromMinhashIndex(
            docs.filter(graft.ext.DataSplit.bucket(col("doc_id")) >= 58982)
              .select("doc_id"), mhPath)
        },
        () => {
          Similarity.saveIvfIndexWithCentroids(emb,
            Similarity.ivfSeedCentroids(emb, nList = 8)
              .select(col("seed_id").as("list_id"), col("cvec")), ivfPath)
          Similarity.deleteFromIvfIndex(
            emb.filter(graft.ext.DataSplit.bucket(col("vec_id")) >= 58982)
              .select("vec_id"), ivfPath)
        }))
      val legs = Seq("minhash" -> mhPath, "ivf" -> ivfPath).map {
        case (leg, p) =>
          val (m, frames, nTomb, held, nRetired) =
            graft.ext.IndexLayout.describeIndex(spark, p)
          (leg, m("format"), m("schemaVersion").toLong, m("gen").toLong,
            frames.size.toLong, frames.map(_.nEntries).sum.toLong,
            nTomb, !held, nRetired.toLong)
      }
      // driver-side local relation (describe is eager), so nothing lazy
      // still reads the index files after cleanup
      legs.toDF("leg", "format", "schema_version", "gen", "n_frames",
        "n_entries", "n_tombstones", "lease_free", "n_retired")
    } finally deleteTempTree(tmpRoot)
  }

  /** x32: the MinHash-family maintenance AUTOPILOT
    * ([[graft.ext.Dedup.maintainMinhashIndex]]) — the policy verb a
    * nightly scheduler runs, exercised over three by-construction legs
    * (the v24 discipline):
    *  - `idle`: built at exactly the sizing rule's count, nothing
    *    deleted → neither trigger fires, gen stays 0;
    *  - `backlog`: same count, the md5-bucket ≥ 52428 range (~20%)
    *    deleted → backlog/live ≈ 25% crosses the 10% policy with 2.5×
    *    margin at every SF, compact fires (one flip, backlog 0);
    *  - `outgrown`: built at a quarter of the post-delete desired
    *    count, same delete → desired ≥ 2× stored fires the rebucket at
    *    ceil(live/target), which SUBSUMES the compact (its rewrite
    *    clears the tombstones at the same flip).
    * Every fact is SQL-recomputable: the decisions are margins-by-
    * construction, `buckets_after` is the sizing rule over the exact
    * corpus/survivor counts, `gen_after` counts the flips, and every
    * leg ends with zero backlog. */
  def minhashIndexMaintain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val doomed = docs
      .filter(graft.ext.DataSplit.bucket(col("doc_id")) >= 52428)
      .select("doc_id")
    val target = 50L
    val nTotal = docs.count()
    val nLive = nTotal - doomed.count()
    val rightCount = ((nTotal + target - 1) / target).toInt
    val desired = (nLive + target - 1) / target
    // the outgrown leg's by-construction claim (rebucket fires) needs
    // desired ≥ 2 — with one bucket's worth of live docs no stored
    // count can be 2× outgrown; refuse loudly rather than emit rows
    // that contradict the oracle's stated facts
    require(desired >= 2,
      s"x32 fixture needs ≥ ${2 * target} live docs (got $nLive): the " +
        "outgrown leg cannot fire on a one-bucket corpus")
    val smallCount = math.max(1L, desired / 4).toInt
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_x32")
    try {
      // ONE signing pass over the corpus feeds all three legs' builds
      // (guide §2.4 — the legs previously re-shingled and re-signed the
      // full corpus each; the bucket count is applied at write time, so
      // one frames triple serves both build counts), and the legs —
      // disjoint directories, per-path leases, no shared mutable state
      // — run overlapped (guide §2.6): the verb costs ~the slowest leg,
      // not the sum of three. All three frames are pinned hot because
      // every leg's build scans each of them once.
      import org.apache.spark.storage.StorageLevel
      val (db0, dsh, dsz0) = Dedup.minhashIndexFrames(docs)
      val db = db0.persist(StorageLevel.MEMORY_AND_DISK)
      val dsz = dsz0.persist(StorageLevel.MEMORY_AND_DISK)
      val legSpecs = Seq(
        ("idle", rightCount, false),
        ("backlog", rightCount, true),
        ("outgrown", smallCount, true))
      // phase 1: the three builds (the only consumers of the pinned
      // frames), overlapped; the caches free BEFORE the maintain phase
      // so its rewrites don't run against three pinned corpus frames
      graft.ext.IndexLayout.inParallel[Unit](legSpecs.map {
        case (leg, buildBuckets, _) => () =>
          Dedup.saveMinhashIndexFromFrames(db, dsh, dsz, s"$tmpRoot/$leg",
            idBuckets = buildBuckets)
      })
      db.unpersist()
      dsh.unpersist()
      dsz.unpersist()
      // phase 2: delete + autopilot + describe per leg, overlapped
      val legs = graft.ext.IndexLayout.inParallel(legSpecs.map {
        case (leg, _, del) => () => {
          val p = s"$tmpRoot/$leg"
          if (del) Dedup.deleteFromMinhashIndex(doomed, p)
          val (compacted, rebucketed) = Dedup.maintainMinhashIndex(spark, p,
            maxTombstonePct = 10, targetDocsPerBucket = target)
          val (m, _, nTombAfter, _, _) =
            graft.ext.IndexLayout.describeIndex(spark, p)
          (leg, compacted, rebucketed, m("buckets").toLong,
            m("gen").toLong, nTombAfter)
        }
      })
      // driver-side local relation (describe is eager), so nothing lazy
      // still reads the index files after cleanup
      legs.toDF("leg", "compacted", "rebucketed", "buckets_after",
        "gen_after", "n_tombstones_after")
    } finally deleteTempTree(tmpRoot)
  }

  /** x35: the autopilot's COMPOSITION-LENGTH (fold) trigger
    * ([[graft.ext.Dedup.maintainMinhashIndex]]'s third leg) on an
    * APPEND-ONLY index — the lifecycle the other two triggers never
    * see: zero dead rows and stable sizing, but every committed append
    * splices one batch root per frame, so serve plans union one more
    * scan per batch until a compaction folds them (the Delta-log trade
    * needs its checkpoint trigger; r18's named scale suspect). Two
    * by-construction legs over the same base/4-batch md5-bucket split:
    *  - `under`: 2 of the 4 batches appended, bound 3 → no verb fires,
    *    gen stays 0, both batch roots stand;
    *  - `over`: all 4 appended, bound 3 → the FOLD fires (reported as
    *    `compacted` — it IS a compaction with an empty tombstone set),
    *    batch roots return to 0, one flip.
    * The other triggers are cold BY CONSTRUCTION, not by measurement:
    * nothing is ever deleted (n_tombstones_after = 0 → backlog's
    * nDead = 0 exactly) and the index is built at the sizing rule's
    * own bucket count over the FULL corpus, so after all appends
    * desired == stored and the rebucket's desired ≥ 2×stored is
    * arithmetic-false. `serve_identical` pins the fold's read-side
    * no-op. On the OVER leg it is OBSERVED: the same probe batch
    * (standing dups + novel docs) admits identically before and after
    * — eagerly pinned before the fold swaps files under the lazy
    * plan. On the UNDER leg (no verb fires) it is the stronger
    * manifest-equality pin — an unchanged composition over immutable
    * committed files cannot serve differently — at zero serve cost.
    * Fixture cost: the base index is built ONCE — the under leg is
    * the over leg's exact prefix (its autopilot is a no-op,
    * require-checked), so the over leg resumes from a directory copy
    * instead of a second full build. */
  def minhashIndexFold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val bk = graft.ext.DataSplit.bucket(col("doc_id"))
    val base = docs.filter(bk < 32768)
    // the base build and all four appends draw on ONE signing pass over
    // the corpus (guide §2.4): each slice is a per-doc bucket filter of
    // the shared frames (frames(docs.filter(p)) = frames(docs).filter(p)
    // exactly), so the fixture shingles/signs the corpus once instead
    // of five times. The verb under audit — the autopilot's fold of
    // committed batch roots — is untouched.
    val batchPreds = Seq(
      bk >= 32768 && bk < 40960,
      bk >= 40960 && bk < 49152,
      bk >= 49152 && bk < 57344,
      bk >= 57344)
    // sizing-cold build count: the rule's own count over the FULL
    // corpus (after every append desired == stored, never 2× outgrown)
    val target = 50L
    val rightCount = ((docs.count() + target - 1) / target).toInt
    // probe batch: half standing dups (must reject), half novel docs
    // (must admit) — the serve whose result the fold must not change.
    // Eagerly pinned ONCE (ckptLocal): both serves must probe the same
    // rows, and an unordered limit re-evaluated per job could not
    // guarantee that
    val probes = graft.ext.Checkpoints.ckptLocal(
      base.orderBy("doc_id").limit(5).select(
        (col("doc_id") + 9000000L).as("doc_id"), col("text"))
      .unionAll(Seq.tabulate(5)(i =>
        (9100000L + i, s"qq${i}a qq${i}b qq${i}c qq${i}d qq${i}e qq${i}f"))
        .toDF("doc_id", "text")))
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_x35")
    try {
      def leg(p: String, name: String, serveCheck: Boolean) = {
        def mNow() = graft.ext.IndexLayout
          .requireManifest(spark, p, Dedup.MinhashIndexFormat)
        val mBefore = mNow()
        val batchesBefore = graft.ext.IndexLayout.maxBatchRootCount(mBefore)
        // the OVER leg pins serve identity by observation (the fold
        // swaps files under the plan — the claim worth paying two
        // serves for); the UNDER leg's autopilot is a manifest-level
        // no-op, where manifest equality is the STRONGER pin (an
        // unchanged composition over immutable committed files cannot
        // serve differently) at zero serve cost
        val served0 = if (serveCheck) Some(graft.ext.Checkpoints.ckptLocal(
          Dedup.nearDupIngestFromPath(spark, p, probes))) else None
        val (compacted, rebucketed) = Dedup.maintainMinhashIndex(spark, p,
          maxTombstonePct = 10, targetDocsPerBucket = target,
          maxAppendBatches = 3)
        val serveIdentical = served0 match {
          case Some(s0) =>
            val served1 = Dedup.nearDupIngestFromPath(spark, p, probes)
            multisetEq(s0, served1)
          case None => mNow() == mBefore
        }
        val (m, _, nTombAfter, _, _) =
          graft.ext.IndexLayout.describeIndex(spark, p)
        (name, compacted, rebucketed, batchesBefore.toLong,
          graft.ext.IndexLayout.maxBatchRootCount(m).toLong,
          m("gen").toLong, nTombAfter, serveIdentical)
      }
      // the base index is built ONCE: the under leg IS the over leg's
      // prefix (its autopilot fires nothing by construction — gen 0,
      // both roots standing — so the post-autopilot directory is
      // bit-identical to a fresh build + 2 appends), and the over leg
      // resumes from a copy instead of paying a second full build
      import org.apache.spark.storage.StorageLevel
      val (fb0, fsh, fsz0) = Dedup.minhashIndexFrames(docs)
      val fb = fb0.persist(StorageLevel.MEMORY_AND_DISK)
      val fsz = fsz0.persist(StorageLevel.MEMORY_AND_DISK)
      def appendSlice(path: String, pred: org.apache.spark.sql.Column): Unit =
        Dedup.appendToMinhashIndexFromFrames(spark, path,
          fb.filter(pred), fsh.filter(pred), fsz.filter(pred))
      val underPath = s"$tmpRoot/under"
      Dedup.saveMinhashIndexFromFrames(fb.filter(bk < 32768),
        fsh.filter(bk < 32768), fsz.filter(bk < 32768), underPath,
        idBuckets = rightCount)
      batchPreds.take(2).foreach(p => appendSlice(underPath, p))
      val under = leg(underPath, "under", serveCheck = false)
      require(!under._2 && !under._3 && under._6 == 0L,
        s"x35 under-leg autopilot must be a no-op (got $under): the " +
          "over leg resumes from this directory")
      val overPath = s"$tmpRoot/over"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(underPath), new java.io.File(overPath))
      batchPreds.drop(2).foreach(p => appendSlice(overPath, p))
      fb.unpersist()
      fsh.unpersist()
      fsz.unpersist()
      val over = leg(overPath, "over", serveCheck = true)
      // driver-side local relation (describe/serve pins are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq(under, over).toDF("leg", "compacted", "rebucketed",
        "batches_before", "batches_after", "gen_after",
        "n_tombstones_after", "serve_identical")
    } finally {
      graft.ext.Checkpoints.free(probes)
      deleteTempTree(tmpRoot)
    }
  }

  /** v24: drift-GATED index maintenance
    * ([[graft.ext.Similarity.driftGateIvfIndex]]) — the decision layer
    * between v11's monitoring and v23's retrain verb, run over a
    * provable two-leg fixture (the m8 discipline): each leg builds the
    * SAME standing index (md5-bucket 80% split, md5-drawn seed
    * centroids — the v9 oracle-parity quantizer) and gates one arriving
    * batch. The STABLE leg's batch is the held-out 20% unchanged — a
    * same-distribution sample whose list-occupancy TV against the
    * standing lists is multinomial noise (measured 0.05–0.16 across
    * SFs). The DRIFTED leg's batch is the same rows re-embedded by a
    * "collapsed" model (first coordinate pinned to 1, the rest ÷100 —
    * the direction-collapse pathology of a broken/foreign embedder),
    * which concentrates the batch into few lists (measured TV 0.87).
    * Against the 0.5 threshold both decisions are determined with
    * ≥ 0.3 margin — by construction, not tuning — so the oracle states
    * them as literal facts: the stable leg appends and keeps nList=8;
    * the drifted leg appends and retrains to nList=12, the flipped
    * manifest's stored nList read back. `n_indexed` (all corpus rows
    * present in the served frame after the verbs, live minus
    * tombstones) is recomputed by SQL as the full embeddings count. */
  def ivfIndexDriftGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val heldOut = emb.filter(b >= 52428)
    val collapsed = heldOut.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        (x, i) => when(i === 0, lit(1.0)).otherwise(x / lit(100.0)))
        .cast("array<float>").as("embedding"))
    val seeds = Similarity.ivfSeedCentroids(standing, nList = 8)
      .select(col("seed_id").as("list_id"), col("cvec"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_gate")
    try {
      // independent legs — disjoint directories, per-path leases, no
      // shared mutable state — overlapped (guide §2.6): the verb costs
      // ~the slower leg, not the sum
      val legs = graft.ext.IndexLayout.inParallel(
        Seq("stable" -> heldOut, "drifted" -> collapsed).map {
          case (name, batch) => () => {
            val path = s"$tmpRoot/$name"
            Similarity.saveIvfIndexWithCentroids(standing, seeds, path)
            val (_, retrained) = Similarity.driftGateIvfIndex(spark, path,
              batch, tvThresholdMu = 500000L, retrainNList = 12, nIters = 1)
            val m = Similarity.ivfIndexParams(spark, path)
            val nListAfter = m("nList").toLong
            val nIndexed = graft.ext.IndexLayout
              .readFrame(spark, path, m, "lists").count()
            (name, nIndexed, retrained, nListAfter)
          }
        })
      // driver-side local relation (every index read above is eager),
      // so nothing lazy still reads the index files after cleanup
      legs.toDF("leg", "n_indexed", "retrained", "n_list_after")
    } finally deleteTempTree(tmpRoot)
  }

  /** v25: the IVF-family maintenance autopilot
    * ([[graft.ext.Similarity.maintainIvfIndex]]) — three legs, every
    * decision by construction and every emitted number SQL-recomputable:
    *  - `idle` builds and deletes nothing → no trigger (live occupancy
    *    equals the stored train-time baseline EXACTLY, TV = 0 — the
    *    no-fire side needs no data-dependent margin), no flip;
    *  - `backlog` deletes the md5-bucket ≥ 52428 range (~25% of live
    *    vs the 10% policy, 2.5× margin at every SF; the deletes are
    *    md5-random across lists, so the occupancy TV vs baseline is
    *    multinomial thinning noise — far under the 0.5 imbalance
    *    threshold) → one compaction flip, backlog zero, doomed rows
    *    physically gone: `n_live_after` equals the SQL-recomputed
    *    survivor count;
    *  - `imbalanced` (the slow-skew scenario neither the v24 ingest
    *    gate nor the backlog policy can see): the corpus is embedded
    *    as CRAFTED 9-dim one-hot vectors — class = md5-bucket mod 8 on
    *    dim `class`, a per-id perturbation on dim 8 only — against the
    *    8 one-hot unit centroids, so list assignment IS the md5 rule
    *    (the only non-zero dot is the true class) and everything about
    *    occupancy is SQL-recomputable. Deleting classes 1..7 leaves
    *    live occupancy concentrated on list 0: TV vs baseline =
    *    1 − p₀ ≈ 0.875 ≫ the 0.5 threshold (exact-integer TV, margin
    *    ≥ 0.3 at every SF since p₀ ≈ 1/8 by md5 uniformity) → the
    *    RETRAIN fires and SUBSUMES the compaction (tombstones resolved
    *    at its flip, the x32-rebucket discipline): gen 1, backlog 0,
    *    `n_live_after` = the SQL-recomputed class-0 count. */
  def ivfIndexMaintain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val doomed = emb
      .filter(graft.ext.DataSplit.bucket(col("vec_id")) >= 52428)
      .select("vec_id")
    val seeds = Similarity.ivfSeedCentroids(emb, nList = 8)
      .select(col("seed_id").as("list_id"), col("cvec"))
    // the imbalanced leg's crafted embedding: one-hot on the md5 class
    // (dims 0..7) plus a per-id perturbation on dim 8 — assignment to
    // the one-hot centroids is exactly the class (only non-zero dot),
    // and the survivors are non-degenerate for the retrain's kmeans
    val cls = pmod(graft.ext.DataSplit.bucket(col("vec_id")), lit(8))
    val crafted = emb.select(col("vec_id"),
      transform(sequence(lit(0), lit(8)),
        i => when(i === cls, lit(1.0))
          .when(i === 8, (pmod(col("vec_id"), lit(5)) + 1) / lit(10.0))
          .otherwise(lit(0.0)))
        .cast("array<float>").as("embedding"))
    val craftedCents = (0 until 8).map(d =>
      (d.toLong, Seq.tabulate(9)(i => if (i == d) 1.0 else 0.0)))
      .toDF("list_id", "cvec")
    val craftedDoomed = crafted.filter(cls =!= 0).select("vec_id")
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_v25")
    try {
      // independent legs — disjoint directories, per-path leases, no
      // shared mutable state — overlapped (guide §2.6): the verb costs
      // ~the slowest leg, not the sum of three
      val legs = graft.ext.IndexLayout.inParallel(Seq(
        ("idle", emb, seeds, None),
        ("backlog", emb, seeds, Some(doomed)),
        ("imbalanced", crafted, craftedCents, Some(craftedDoomed))).map {
        case (leg, corpus, cents, del) => () => {
          val p = s"$tmpRoot/$leg"
          Similarity.saveIvfIndexWithCentroids(corpus, cents, p)
          del.foreach(d => Similarity.deleteFromIvfIndex(d, p))
          val (retrained, compacted) = Similarity.maintainIvfIndex(spark, p,
            maxTombstonePct = 10)
          val (m, _, nTombAfter, _, _) =
            graft.ext.IndexLayout.describeIndex(spark, p)
          val nLive = graft.ext.IndexLayout
            .readFrame(spark, p, m, "lists").count()
          (leg, retrained, compacted, m("gen").toLong, nTombAfter, nLive)
        }
      })
      // driver-side local relation (describe is eager), so nothing lazy
      // still reads the index files after cleanup
      legs.toDF("leg", "retrained", "compacted", "gen_after",
        "n_tombstones_after", "n_live_after")
    } finally deleteTempTree(tmpRoot)
  }

  /** v27: the IVF autopilot's COMPOSITION-LENGTH (fold) trigger
    * ([[graft.ext.Similarity.maintainIvfIndex]]'s third leg) on an
    * append-only index — x35's discipline on the vector family. Same
    * two by-construction legs (2 vs 4 committed appends against bound
    * 3); the over leg folds the batch roots to 0 in one flip, reported
    * as `compacted`. The other triggers are cold BY CONSTRUCTION:
    * nothing is deleted (nDead = 0 exactly), and the imbalance
    * threshold is passed as 1,000,000µ — a µ-scaled total-variation
    * distance is ≤ 1,000,000 by definition, so the retrain comparison
    * is arithmetic-false whatever the occupancies (stronger than the
    * measured-noise argument v25's idle leg rests on).
    * `serve_identical` pins the fold's read-side no-op: the same
    * query batch's exact top-k before and after, eagerly pinned
    * before the fold swaps files under the lazy plan. Fixture cost:
    * x35's shared-prefix discipline — one base build, the over leg
    * resumes from a copy of the under leg's (no-op-autopiloted)
    * directory. */
  def ivfIndexFold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    val base = emb.filter(b < 32768)
    val batches = Seq(
      emb.filter(b >= 32768 && b < 40960),
      emb.filter(b >= 40960 && b < 49152),
      emb.filter(b >= 49152 && b < 57344),
      emb.filter(b >= 57344))
    val queries = emb.filter(col("vec_id") < 5)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_v27")
    try {
      def leg(p: String, name: String) = {
        def mNow() = graft.ext.IndexLayout
          .requireManifest(spark, p, Similarity.IvfIndexFormat)
        val batchesBefore = graft.ext.IndexLayout.maxBatchRootCount(mNow())
        val served0 = graft.ext.Checkpoints.ckptLocal(
          Similarity.ivfTopKFromIndex(spark, p, queries, k = 5, nProbe = 4))
        val (retrained, compacted) = Similarity.maintainIvfIndex(spark, p,
          maxTombstonePct = 10, imbalanceTvThresholdMu = 1000000L,
          maxAppendBatches = 3)
        val served1 =
          Similarity.ivfTopKFromIndex(spark, p, queries, k = 5, nProbe = 4)
        val serveIdentical = multisetEq(served0, served1)
        val (m, _, nTombAfter, _, _) =
          graft.ext.IndexLayout.describeIndex(spark, p)
        (name, compacted, retrained, batchesBefore.toLong,
          graft.ext.IndexLayout.maxBatchRootCount(m).toLong,
          m("gen").toLong, nTombAfter, serveIdentical)
      }
      // x35's shared-prefix discipline: one base build; the under
      // leg's autopilot is a no-op by construction, so the over leg
      // resumes from a copy of its directory (bit-identical to a
      // fresh build + 2 appends) and pays only its own 2 extra appends
      val underPath = s"$tmpRoot/under"
      Similarity.saveIvfIndex(base, underPath, nList = 8, nIters = 1)
      batches.take(2).foreach(bt =>
        Similarity.appendToIvfIndex(spark, underPath, bt))
      val under = leg(underPath, "under")
      require(!under._2 && !under._3 && under._6 == 0L,
        s"v27 under-leg autopilot must be a no-op (got $under): the " +
          "over leg resumes from this directory")
      val overPath = s"$tmpRoot/over"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(underPath), new java.io.File(overPath))
      batches.drop(2).foreach(bt =>
        Similarity.appendToIvfIndex(spark, overPath, bt))
      val over = leg(overPath, "over")
      // driver-side local relation (describe/serve pins are eager), so
      // nothing lazy still reads the index files after cleanup
      Seq(under, over).toDF("leg", "compacted", "retrained",
        "batches_before", "batches_after", "gen_after",
        "n_tombstones_after", "serve_identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** v11: per-source centroid drift
    * ([[graft.ext.Similarity.snapshotCentroidDrift]]) between the x19
    * snapshot memberships (same salted '#snap' bucket rule, so the
    * whole living-corpus family monitors ONE pair of snapshots):
    * old = buckets [0, 90%), new = buckets [10%, 100%) of the
    * embeddings keyed to their document's source. */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val keyed = emb.join(src, "vec_id").withColumn("_bucket",
      graft.ext.DataSplit.bucketSalted(col("vec_id"), "#snap"))
    Similarity.snapshotCentroidDrift(
      keyed.filter(col("_bucket") < 58982).drop("_bucket"),
      keyed.filter(col("_bucket") >= 6554).drop("_bucket"))
  }

  // ---- similarity ----

  private def queryVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 10)

  /** v9: incremental IVF ingest — the t7 md5-bucket rule splits the
    * embeddings into a standing index (80%) and a new batch (20%);
    * the batch is assigned into the standing index's lists at
    * oracle-parity settings (md5-drawn seed centroids, nIters = 0);
    * see [[graft.ext.Similarity.ivfIngest]]. */
  def ivfIngest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    Similarity.ivfIngest(
      emb.filter(b < 52428), emb.filter(b >= 52428), nList = 8, nIters = 0)
  }

  /** s16: STREAMING IVF ingest — v9's assignment run as a real
    * Structured Streaming query
    * ([[graft.streaming.Streaming.ivfIngestStream]]): the test-split
    * vectors stream in micro-batches and are assigned by the
    * once-materialized standing seed quantizer into per-batch
    * idempotent delta dirs. Assignment is per-row independent, so the
    * drained union equals the one-shot batch assignment bit-for-bit —
    * v9's oracle SQL covers this run verbatim (the s9 ≡ x16 pattern). */
  def streamIvfIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val b = graft.ext.DataSplit.bucket(col("vec_id"))
    // nList=8 seed rows, pinned eagerly so the standing corpus is
    // scanned exactly once for the whole stream (ckptLocal — the
    // non-recomputable-checkpoint discipline's 2-replica level)
    val seeds = graft.ext.Checkpoints.ckptLocal(
      Similarity.ivfSeedCentroids(emb.filter(b < 52428), nList = 8))
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s16")
    try {
      val stream = graft.streaming.Streaming.embeddingsStream(spark, dir)
        .filter(graft.ext.DataSplit.bucket(col("vec_id")) >= 52428)
      val q = graft.streaming.Streaming.ivfIngestStream(stream, seeds,
        s"$tmpRoot/out", s"$tmpRoot/ck")
      q.awaitTermination()
      // driver-side local relation: the sink dirs are deleted below.
      // Bounded at the TEST batch split's row count (delta-sized ids,
      // two longs per row), the x26/v18 harness-row exception class.
      val rows = spark.read.parquet(s"$tmpRoot/out")
        .select(col("vec_id").cast("long"), col("list_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      rows.toDF("vec_id", "list_id")
    } finally deleteTempTree(tmpRoot)
  }

  /** Memoized per-JVM IVF index store for [[streamIvfServe]] (s17) —
    * the x26bIndex pattern on the vector side: one FIXED path per
    * input dir, written once per JVM, so the bench's warmup rep
    * absorbs the one-time index build and the timed reps measure the
    * STREAMING SERVE (the production shape: a serving fleet answers
    * from a standing index; it does not rebuild it per request). */
  private val s17Index = new graft.ext.BuildOnce[String, String]

  /** s17: STREAMING vector serve — the v12 serving path run as a real
    * Structured Streaming query
    * ([[graft.streaming.Streaming.ivfServeStream]]): the index is
    * built once per JVM over the corpus ([[s17Index]]), the v12 query
    * set (vec_id < 10) arrives as a stream, and every micro-batch is
    * answered from the persisted layout. Because each query's top-k is
    * a per-row function of the index, the folded per-batch outputs
    * must equal the one-shot batch serve EXACTLY — pinned here
    * (identical flag) and oracle-covered by v12's SQL form verbatim. */
  def streamIvfServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val path = s17Index(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_s17_idx_${dirKey(dir)}"
      Similarity.saveIvfIndex(emb, p, nList = 8, nIters = 1)
      p
    }
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_s17")
    try {
      val stream = graft.streaming.Streaming.embeddingsStream(spark, dir)
        .filter(col("vec_id") < 10)
      val q = graft.streaming.Streaming.ivfServeStream(stream, path,
        s"$tmpRoot/out", s"$tmpRoot/ck")
      q.awaitTermination()
      val queries = emb.filter(col("vec_id") < 10)
      // default stream vs default batch serve (the wrapper's defaults
      // are pinned to ivfTopKFromIndex's)
      val batchServed = Similarity.ivfTopKFromIndex(spark, path, queries)
      val streamServed = spark.read.parquet(s"$tmpRoot/out")
        .select("query_id", "neighbor_id", "rk")
      val identical =
        multisetEq(streamServed, batchServed)
      // driver-side local relation (the probes above are eager), so
      // nothing lazy still reads the per-run output after cleanup
      Seq((queries.count(), identical)).toDF("n_queries", "identical")
    } finally deleteTempTree(tmpRoot)
  }

  /** Memoized per-JVM IVF index store for [[ivfIndexServe]] (v20) —
    * shares [[s17Index]]'s rationale: one FIXED path per input dir,
    * written once per JVM, warmup-absorbed. Its OWN store (not
    * s17Index's path) so the two rows stay independently evictable. */
  private val v20Index = new graft.ext.BuildOnce[String, String]

  /** v20: the BATCH SERVING path of the persisted IVF index — x26b's
    * discipline on the vector side, and the row the sf1 trend tier was
    * missing: x26 prices the audit harness (dual build + identity
    * probes) and v12 the persist round-trip; this row prices what a
    * serving fleet actually pays per query batch — manifest read,
    * probe join, DPP-pruned candidate scan (~nProbe/nList of the
    * index), k-bounded re-rank. The index build is memoized per JVM
    * ([[v20Index]]) so the bench's warmup rep absorbs it. Facts
    * emitted ride ONE lazy plan and are all oracle-recomputable:
    * `n_queries` (the v12 query-set rule), `n_results` (= 5k per
    * query: every query's probed lists hold ≥ k candidates at these
    * settings), `self_excluded` (a query vector never serves itself —
    * the probe join's guard). */
  def ivfIndexServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = v20Index(dir) {
      val p = sys.props("java.io.tmpdir") +
        s"/graft_v20_idx_${dirKey(dir)}"
      Similarity.saveIvfIndex(emb, p, nList = 8, nIters = 1)
      p
    }
    val served = Similarity.ivfTopKFromIndex(spark, path,
      emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
    served.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_results"),
      (sum(when(col("query_id") === col("neighbor_id"), 1L).otherwise(0L))
        === 0L).as("self_excluded"))
  }

  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb, queryVecs(spark, dir), k = 5)
  }

  /** Int8-quantized brute force with exact re-rank — v1's memory-scale
    * path (1 byte/dim on the hot scan). Rank-identical to v1, so it
    * shares the exact top-k SQL oracle. */
  def annQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    Similarity.quantizedTopK(emb, queryVecs(spark, dir), k = 5)
  }

  /** Metadata-filtered vector search (the vector-DB "filtered ANN"):
    * top-k restricted to corpus rows with label < 5. The predicate is a
    * plain scan filter, so it pushes into the parquet reader
    * (PushedFilters — PlanSpec) and composes with every search path;
    * at 100 TB the filtered scan reads only matching row groups. */
  def filteredCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb.filter(col("label") < 5),
      queryVecs(spark, dir), k = 5)
  }

  // ---- streaming ----

  /** Tumbling 1-day windowed totals, run as a real Structured Streaming
    * query against the static parquet (memory sink). */
  def streamDailyTotals(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dailyCategoryTotals(
        graft.streaming.Streaming.eventsStream(spark, dir)))

  /** s13: daily hot keys — the streaming windowed totals
    * ([[graft.streaming.Streaming.dailyTypeTotals]]) feed a per-day
    * top-3 rank by total cents (ties broken on event_type). The rank
    * runs over the materialized window table: per-day partitions are
    * tiny (≤ |event types| rows), so the window function never sees a
    * single-partition global sort. */
  def streamHotTypes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dailyTypeTotals(
        graft.streaming.Streaming.eventsStream(spark, dir)))
    agg.withColumn("rk", row_number().over(
        Window.partitionBy("day")
          .orderBy(col("value_cents").desc, col("event_type"))))
      .filter(col("rk") <= 3)
  }

  /** s14 — daily-rate spike detection: the anomaly monitor over
    * [[graft.streaming.Streaming.dailyTypeCounts]]'s continuously-
    * maintained window table. A (type, day) is flagged when its count
    * is ≥2.5× the type's PREVIOUS observed day and clears a minimum
    * volume floor — the "did ingestion just go haywire / did a source
    * start flooding" gate a corpus pipeline runs before admitting a
    * day's crawl. The ratio test is integer-exact (`n·10 ≥ prev·25` —
    * no float ratio crosses the comparison), the first observed day of
    * a type carries NULL prev and can never flag, and "previous" means
    * previous OBSERVED day (a zero-volume day emits no window row —
    * itself the anomaly the volume floor catches from the other side).
    * Serving cost: one |types|-partitioned lag window over a
    * days×types-sized table — metadata-scale regardless of corpus
    * volume, because the stream already reduced events to one integer
    * per (day, type). */
  def streamSpikes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dailyTypeCounts(
        graft.streaming.Streaming.eventsStream(spark, dir)))
    val w = Window.partitionBy("event_type").orderBy("day")
    agg.withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("prev_n", lag("n", 1).over(w))
      .withColumn("spike",
        col("prev_n").isNotNull && col("n") * 10 >= col("prev_n") * 25 &&
          col("n") >= 20)
  }

  /** Sliding 2-day/1-day windowed totals (overlapping windows — s1's
    * tumbling form can't express a trailing-48h view). */
  def streamSlidingTotals(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.slidingCategoryTotals(
        graft.streaming.Streaming.eventsStream(spark, dir)))

  /** Streaming flagship (Complete mode, per-user state) — same oracle as
    * the batch and incremental flagship forms. */
  def streamProfile(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.profileStream(
        graft.streaming.Streaming.eventsStream(spark, dir)))

  /** Gap-based sessionization, batch form (window functions). */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.sessionizeBatch(Tables.events(spark, dir))

  /** Same sessionization as a stateful streaming query
    * (flatMapGroupsWithState) — verified against the same oracle as the
    * batch form. */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.Streaming
    val ev = Streaming.eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[Streaming.SessEvent]
    Streaming.runToBatch(spark, Streaming.sessionize(ev).toDF(),
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Stream-static broadcast join (stateless enrichment). */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.enrichWithSegment(
        graft.streaming.Streaming.eventsStream(spark, dir),
        Tables.customer(spark, dir)),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Streaming corpus-ingest quality gate (stateless Append) — same
    * semantics and oracle as the batch quality filter. */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.qualityGate(
        graft.streaming.Streaming.documentsStream(spark, dir)),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** Streaming exact dedup — first arrival of each key wins. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dedupStream(
        graft.streaming.Streaming.eventsStream(spark, dir)),
      org.apache.spark.sql.streaming.OutputMode.Append())

  /** s5b: bounded-state dedup (`dropDuplicatesWithinWatermark`) run to
    * completion on the bounded replay. The 40-day delay DOMINATES the
    * replay's 30-day event span, which makes the horizon semantics
    * deterministic by construction: the watermark (max seen ts − 40d)
    * can never reach any key's eviction horizon (first ts + 40d), so no
    * state evicts, no key re-emits, and the op provably equals global
    * dedup REGARDLESS of how AvailableNow slices micro-batches — the
    * oracle is s5's DISTINCT. Only the key columns are emitted: which
    * physical duplicate survives is arrival-order-dependent, the key
    * set is not. (In production the delay is minutes — the point of the
    * op is state eviction; this registration pins the correctness of
    * the suppress-within-horizon path, StreamingSpec covers eviction.) */
  def streamDedupWithinWatermark(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dedupStreamWithinWatermark(
        graft.streaming.Streaming.eventsStream(spark, dir), delay = "40 days"),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select("user_id", "event_type")

  /** s9: streaming ingest dedup at x16's split — the t7 train bucket is
    * the standing (static) corpus, the test bucket streams in; only
    * docs whose digest is absent from the corpus are admitted. */
  def streamIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.ext.DataSplit.withSplit(
        Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
      .filter(col("split") === "train")
    val stream = graft.ext.DataSplit.withSplit(
        graft.streaming.Streaming.documentsStream(spark, dir)
          .select("doc_id", "text"), "doc_id")
      .filter(col("split") === "test")
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.ingestDedup(stream, corpus),
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** s11: streaming CDC — x19's new snapshot (buckets ≥ 10%, the
    * [40%, 50%) band re-crawled with changed content) STREAMS against
    * the static old snapshot (buckets < 90%); emits the added/changed
    * half of the x19 delta ([[graft.streaming.Streaming.cdcStream]] —
    * `removed` needs snapshot close, which a stream never reaches). */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    val bkt = graft.ext.DataSplit.bucketSalted(col("doc_id"), "#snap")
    val oldSnap = Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn("bucket", bkt).filter(col("bucket") < 58982)
      .select("doc_id", "text")
    val newStream = graft.streaming.Streaming.documentsStream(spark, dir)
      .select("doc_id", "text")
      .withColumn("bucket", bkt).filter(col("bucket") >= 6554)
      .select(col("doc_id"),
        when(col("bucket") >= 26214 && col("bucket") < 32768,
          concat(col("text"), lit(" [recrawled]")))
          .otherwise(col("text")).as("text"))
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.cdcStream(newStream, oldSnap),
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** s12: streaming daily distinct users — HLL sketch in the stream,
    * g16b-contract check against the batch-exact count per day. */
  def streamDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    // Complete mode (s1's choice): append would hold back the windows
    // the final watermark has not closed — the stream's last days
    val streamed = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dailyDistinctUsers(
        graft.streaming.Streaming.eventsStream(spark, dir)))
    val exact = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct("user_id").as("exact_users"))
    streamed.join(exact, Seq("day"))
      .select(col("day"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * lit(0.05)).as("hll_ok"))
  }

  /** Stream-stream interval join (watermarked state both sides). */
  def streamRangeJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.attributionStream(spark, dir),
      org.apache.spark.sql.streaming.OutputMode.Append())

  // ---- multimodal ----

  /** Binary payload + typed metadata (oracle-checked byte lengths). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.withBinaryPayload(Tables.documents(spark, dir))
      .select(col("doc_id"), col("media_meta.byte_len").as("byte_len"),
        col("media_meta.mime").as("mime"))

  /** Batched per-partition feature extraction over the binary column
    * (decode step stubbed — see Multimodal scaladoc). The 16-bin
    * histogram is exploded into scalar columns h00..h15 so the driver's
    * oracle compare can sort/hash the rows. */
  /** m4: perceptual media near-dup — feature-space pairs within L1
    * 0.001 (catches the planted exact dups plus tight near-encodes). */
  def mediaNearDups(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.mediaNearDups(
      Tables.documents(spark, dir), maxL1 = 0.001)

  /** m6: perceptual-signature media dedup — the x1-shaped production
    * path (see [[graft.ext.Multimodal.mediaSigDedup]]). */
  def mediaSigDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Multimodal.mediaSigDedup(Tables.documents(spark, dir))


  /** m5: CONSENSUS multimodal dedup — the operator an image-text
    * corpus actually runs: compose m4's perceptual (media-feature)
    * near-dup with x4's text MinHash near-dup over the SAME doc ids
    * and grade each pair by agreement: near in BOTH modalities ⇒
    * `dup` (safe to auto-delete — same picture AND same caption);
    * near in exactly one ⇒ `review` (re-captioned image, or same
    * text around different media — a human/stronger-model queue, not
    * an auto-drop). Both kernels are the already-oracled sub-ops
    * ([[graft.ext.Multimodal.mediaNearDups]],
    * [[graft.ext.Dedup.minhashNearDups]]); this adds only an
    * output-sized pair-key FULL OUTER join, so the composition costs
    * what the two sub-pipelines cost. Honest scale note: the text
    * side (x4) is banded-bucket LSH, never all-pairs; the media side
    * here is m4's EXACT all-pairs baseline — its measured scale story
    * (including a banded L1 blocker that was built, measured
    * super-linear on concentrated histograms, and removed) lives in
    * the [[graft.ext.Multimodal.mediaNearDups]] scaladoc, and any
    * replacement with the same pair contract slots in unchanged
    * because the composition only consumes (a_id, b_id) sets. Pair
    * orientation a_id < b_id on both sides, so the keys line up
    * without canonicalization. */
  def consensusNearDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val media = graft.ext.Multimodal.mediaNearDups(docs, maxL1 = 0.001)
      .withColumn("media_near", lit(true))
    val text = Dedup.minhashNearDups(docs, n = 3, threshold = 0.5)
      .select(col("a_id"), col("b_id"), lit(true).as("text_near"))
    media.join(text, Seq("a_id", "b_id"), "full_outer")
      .na.fill(false, Seq("media_near", "text_near"))
      .withColumn("verdict",
        when(col("media_near") && col("text_near"), lit("dup"))
          .otherwise(lit("review")))
  }

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.ext.Multimodal.featurize(Tables.documents(spark, dir))
    val hcols = (0 until 16).map(i => col("histogram")(i).as(f"h$i%02d"))
    feats.select(col("doc_id") +: col("byte_len") +: hcols: _*)
  }

  /** IVF-Flat ANN — coarse-quantizer scale path (probes 8 of 16
    * inverted lists per query). No SQL oracle (probe membership depends
    * on the trained quantizer); ExtSpec pins exact-within-probed-lists
    * and a recall floor. Recall here (~0.8) is the worst case: the test
    * embeddings are near-random, so neighbors carry no cluster signal —
    * real-world embedding corpora cluster, which is IVF's premise. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb, queryVecs(spark, dir), k = 5,
      nList = 16, nProbe = 8, nIters = 1)
  }

  /** Driver-checkable bound for v3: recall@5 of the IVF index against
    * the exact brute-force top-5, per query. The oracle enumerates the
    * query ids and pins `recall_ok = TRUE`; a quantizer regression that
    * drops recall below 3/5 hash-fails the row. The floor is
    * deliberately below the ~0.8 observed on these near-random test
    * embeddings (the IVF worst case — no cluster signal): the bound
    * catches breakage, the ExtSpec equality pin catches drift. */
  /** v8: product-quantization ANN (packed one-long codes + ADC scan +
    * exact re-rank) — the ~32× memory-scale path; see
    * [[graft.ext.Similarity.pqTopK]]. Engine-specific (trained
    * codebooks) ⇒ rows-only driver check; v8b bounds its recall. */
  def annPqTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 5)

  /** v8b: recall@5 floor for v8 vs brute force, v3b-style — ≥ 2 of 5
    * per query on RANDOM vectors (PQ's worst case: no cluster
    * structure for the codebooks to exploit; real corpora do better).
    * Spec-measured recall at the three SFs sits well above the
    * floor. */
  def annPqRecallBounded(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity.pqTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = pq.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("hits"), lit(0L)) >= 2).as("recall_ok"))
  }

  /** v14: IVF-PQ ANN — coarse-pruned candidate scan over packed
    * residual codes, ADC scoring, exact re-rank; see
    * [[graft.ext.Similarity.ivfPqTopK]]. Engine-specific (trained
    * quantizers) ⇒ rows-only driver check; v14b bounds its recall. */
  def annIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(spark, dir),
      queryVecs(spark, dir), k = 5)

  /** v14b: recall@5 floor for v14 vs brute force — the two stacked
    * approximations (coarse prune × residual PQ) on RANDOM vectors
    * (both approximations' worst case) must still return ≥ 2 of the
    * true top-5 per query. Spec-measured recall at the registered
    * settings sits well above the floor. */
  def annIvfPqRecallBounded(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivfpq = Similarity.ivfPqTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivfpq.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("hits"), lit(0L)) >= 2).as("recall_ok"))
  }

  def annIvfRecallBounded(spark: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = queryVecs(spark, dir)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Similarity.ivfTopK(emb, q, k = 5,
      nList = 16, nProbe = 8, nIters = 1)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivf.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("hits"), lit(0L)) >= 3).as("recall_ok"))
  }

  /** Frame-sampling plumbing over the binary column: up to 4 uniformly-
    * spaced 64-byte frames per payload. The registered projection emits
    * the structural scalars (index, length) the SQL oracle can
    * recompute from octet_length alone; the binary frames + resize
    * kernel are exercised in StreamingSpec/ExtSpec. */
  def mediaFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = graft.ext.Multimodal.withBinaryPayload(Tables.documents(spark, dir))
      .select(col("doc_id"), col("payload"))
      .as[graft.ext.Multimodal.MediaRow]
    graft.ext.Multimodal.sampleFrames(media, frameBytes = 64, nSamples = 4).toDF()
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("int").as("frame_len"))
  }

  def annLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // few bits + many tables: right recall/cost point for weakly-similar
    // corpora (see SimilaritySpec recall measurement)
    Similarity.lshTopK(emb, queryVecs(spark, dir), k = 5, nBits = 4, nTables = 16)
  }
}
