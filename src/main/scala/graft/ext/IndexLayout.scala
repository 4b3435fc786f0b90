package graft.ext

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The MANIFEST + GENERATION layout shared by both persisted-index
  * families (MinHash `ext/Dedup.scala`, IVF `ext/Similarity.scala`).
  *
  * Why a manifest at all: an index layout written by one binary and
  * maintained by another used to share its build parameters (bucket
  * count, hash-family sizes) as COMPILE-TIME constants — a mismatch
  * would mis-bucket appends or sign probes differently with no error,
  * and the bucket count could not be sized per corpus because it was
  * not a stored build parameter. `_manifest.json` under the index path
  * now carries every layout-defining parameter plus each frame's
  * schema; every maintenance verb reads it back (and fails LOUDLY on a
  * missing/foreign manifest), so the parameters travel with the data.
  *
  * Why generations: the old in-place compaction swapped partition
  * directories underneath any concurrent reader — correct only inside
  * an exclusive maintenance window. Here data directories are
  * IMMUTABLE-OR-GROW (never shrunk in place): a frame is the union of
  * the directories its manifest entry lists, appends add files to the
  * frame's single OPEN generation root (additive — a reader that
  * listed files earlier simply doesn't see the new ones), and a
  * compaction stages rewritten partitions into the NEXT generation,
  * then replaces the whole composition in ONE atomic manifest flip.
  * A reader therefore sees exactly the pre-compaction or the
  * post-compaction index, never a torn mix — serves stay lock-free
  * during compaction. Directories retired by a flip are physically
  * deleted only at the START of a LATER compaction, and only once
  * they are older than the configurable time grace
  * ([[RetiredGraceConfKey]]; timestamps recorded at every flip) — so
  * a serve that resolved the old manifest keeps its files for at
  * least one compaction interval AND at least the configured grace,
  * making the liveness contract ("no serve outlives the grace") a
  * deployment knob rather than a race against compaction cadence.
  *
  * Emptiness is a MANIFEST state, not a path shape: each frame's
  * schema is stored as DDL, so a frame whose directories hold no
  * committed parquet footers (never written, or fully compacted away)
  * reads back as an empty frame with the right schema — no magic
  * schema-anchor files, no `partCol=0` lore.
  *
  * Composition growth is BOUNDED, not merely amortized: after every
  * compaction a frame's entry list holds each partition at most once —
  * a compaction folds into the single new open root every affected
  * partition AND every partition whose rows are split across more
  * than one entry (appends interleaved between compactions leave one
  * sealed entry per generation a partition received appends in;
  * [[stageCompactFrame]]'s fold consolidates them) — so no matter how
  * many append/delete/compact cycles a long-lived index runs, the
  * composition stays ≤ partitions + 1 entries and the read path
  * unions at most min(generations, partitions) + 1 scans — there is
  * no unbounded manifest or plan growth to schedule around (a full
  * rebuild via the save verb resets everything to one generation).
  * Spec-pinned across repeated cycles, with and without interleaved
  * appends.
  *
  * APPENDS ARE MANIFEST-COMMITTED, same as compactions: an append
  * batch is STAGED into its own fresh batch root (`name/aS` for batch
  * verbs, `name/bN` for streaming micro-batches) that no manifest
  * references yet, then made visible by ONE manifest commit splicing
  * every staged frame's new entry into its composition. Consequences:
  * (a) batch visibility is ATOMIC even across frames — a dual-frame
  * append (MinHash bands+shingles+sizes, IVF fp+quantized lists)
  * commits both batch roots in the single manifest write, so a reader
  * can never see a torn half-batch (the old serve-side-dedup
  * mitigation is now unnecessary by construction); (b) a KILLED
  * append leaves only an unreferenced batch root — invisible to every
  * reader, overwritten by the replay (batch-root names are
  * deterministic: the manifest's next seq, resp. the stream's batch
  * id), and swept by the next compaction if never re-run; (c)
  * readers resolve a frame's file set entirely FROM THE MANIFEST —
  * nothing becomes visible by directory listing alone — which makes
  * SNAPSHOT PINNING real: a reader holding manifest seq S serves
  * exactly the index as of commit S while later appends land
  * ([[readManifestAt]]; retention via [[ManifestKeepConfKey]]).
  * Between compactions the composition grows one entry per committed
  * batch (the Delta-log discipline); the compaction fold consolidates
  * batch roots back into the ≤ partitions + 1 bound.
  *
  * Concurrency contract: ONE maintenance writer at a time (append /
  * delete / compact / refresh), any number of concurrent readers.
  * The manifest commit is a MONOTONIC new-file-per-commit write
  * (`_manifest-N.json` with N = the commit SEQ, highest-N-wins read —
  * [[writeManifest]]): safe on object stores too, because it relies
  * only on "a new file is absent or complete", never on rename
  * atomicity over a live destination. */
private[graft] object IndexLayout {

  val ManifestFile = "_manifest.json"

  /** The newest layout schema this code understands; bumped when the
    * layout shape changes incompatibly so a manifest written by NEWER
    * code fails loudly instead of being misread. Versions are
    * PER-INDEX ([[newManifest]]'s `schemaVersion`): a plain layout is
    * written at 1, the int8 IVF storage variant (quantized lists
    * schema + a parallel fp frame) at 2, the pq variant (packed
    * residual-code lists + a stored codebook frame) at 3 — so an older
    * binary keeps accepting every layout it can actually read and
    * REFUSES the quantized shapes it predates instead of appending
    * full-precision rows into a quantized frame. */
  val SchemaVersion = 3

  // ---------------------------------------------------------------
  // manifest io
  // ---------------------------------------------------------------

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val ManifestGenRe = "_manifest-(\\d+)\\.json".r

  /** The per-commit manifest file (N = the commit's SEQ). */
  private[graft] def manifestGenFile(gen: Int): String = s"_manifest-$gen.json"

  /** The manifest COMMIT SEQUENCE — the number that names the
    * `_manifest-N.json` commit object and totally orders every commit
    * (appends, deletes, compaction flips alike). Distinct from `gen`,
    * which counts DATA generations (compaction flips) and names the
    * `name/gN` roots: appends bump seq without bumping gen. A manifest
    * written before seq existed reads back with seq = gen — exactly
    * the number that named its commit file, so ordering is unbroken
    * across the upgrade. */
  def seqOf(m: Map[String, String]): Int =
    m.get("seq").orElse(m.get("gen")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("manifest has no 'seq' or 'gen'"))

  /** Session conf key for HOW MANY trailing manifest commits to retain
    * (min 2). The default keeps the current and previous commit — the
    * structural list-to-open grace; raise it to widen the as-of-serve
    * horizon ([[readManifestAt]] can pin any retained seq).
    *
    * Precedence: a `manifestKeep` key stored IN the index's own
    * manifest wins over this session conf ([[setManifestKeep]] writes
    * it). Retention is a property of the index — it must hold for
    * EVERY writer that commits to it, including one that never set the
    * conf — and a per-index stored parameter is also concurrency-safe
    * where a session-global conf is not: two pipelines committing to
    * different indexes on one shared SparkSession each get their own
    * index's retention instead of whichever conf value happens to be
    * set during their commit. */
  val ManifestKeepConfKey = "graft.index.manifestKeep"

  /** The stored per-index retention key ([[ManifestKeepConfKey]]'s
    * precedence note). */
  val ManifestKeepParam = "manifestKeep"

  /** Committed manifest generations present under `path`. */
  private def listManifestGens(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Int] = {
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestGenRe(n) => Some(n.toInt)
      case _ => None
    })
  }

  /** Commit the manifest OBJECT-STORE-SAFELY: the commit object is
    * `_manifest-N.json` with N = the manifest's generation — a NEW
    * file per flip, never an overwrite-rename of a live one. Readers
    * resolve highest-N ([[readManifest]]), so the commit needs only
    * "a new file is either absent or complete", which every store
    * provides: on HDFS/local the temp→dst rename is atomic; on S3A
    * rename degrades to copy+delete, but the server-side copy
    * materializes the destination object whole — a kill mid-commit
    * leaves at worst a stale hidden temp and the PREVIOUS generation
    * still winning, never a torn manifest and never a window with no
    * manifest at all. (The old OVERWRITE-rename onto one fixed name
    * was atomic on HDFS/local but had a sub-second no-manifest window
    * on S3A — the standard rename-commit caveat this layout no longer
    * carries.)
    *
    * `_manifest.json` is still written (second, by the same
    * temp+OVERWRITE-rename as before) as a COMPATIBILITY POINTER so
    * pre-monotonic binaries keep reading the index; new readers never
    * consult it when any `_manifest-N.json` exists.
    *
    * Cleanup is bounded and grace-respecting: generations ≤ N−2 are
    * deleted at commit time — one full flip interval of grace, the
    * [[dropRetired]] contract applied to manifest files (a reader that
    * listed just before this commit holds at most N−1, which
    * survives). */
  def writeManifest(spark: SparkSession, path: String,
      kv: Map[String, String]): Unit = {
    val f = IndexFs.fs(spark, path)
    f.mkdirs(new Path(path))
    if (!kv.contains("gen")) throw new IllegalArgumentException(
      s"manifest for $path has no 'gen' — not a layout manifest")
    val gen = seqOf(kv)
    val sorted = new java.util.TreeMap[String, String]()
    kv.foreach { case (k, v) => sorted.put(k, v) }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(sorted)
    val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fc = FileContext.getFileContext(new Path(path).toUri,
      spark.sessionState.newHadoopConf())
    def commit(tmpName: String, dstName: String): Unit = {
      val tmp = new Path(s"$path/$tmpName")
      val out = f.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      // OVERWRITE for replay idempotency (a re-run commit of the same
      // generation rewrites identical content)
      fc.rename(tmp, new Path(s"$path/$dstName"), Options.Rename.OVERWRITE)
    }
    commit(s"._manifest-$gen.json.tmp", manifestGenFile(gen))
    commit(s".${ManifestFile}.tmp", ManifestFile)
    // retention: the index's own stored parameter wins (it travels
    // with the data and applies to every writer); the session conf is
    // the fallback for indexes that never stored one
    val keep = kv.get(ManifestKeepParam)
      .orElse(spark.conf.getOption(ManifestKeepConfKey))
      .map(_.toInt.max(2)).getOrElse(2)
    listManifestGens(f, path).filter(_ <= gen - keep)
      .foreach(g => f.delete(new Path(s"$path/${manifestGenFile(g)}"), false))
  }

  /** The retained manifest commit seqs of `path`, ascending — the
    * as-of-serve horizon an operator can still pin
    * ([[ManifestKeepConfKey]] sizes it). Empty for a legacy
    * pointer-only layout. */
  def availableManifestSeqs(spark: SparkSession, path: String): Seq[Int] =
    listManifestGens(IndexFs.fs(spark, path), path).sorted

  /** Resolve the manifest AS OF commit `seq` — the snapshot-pinning
    * read: the returned composition references exactly the batch roots
    * and generations visible at that commit, so a serve planned from
    * it sees none of any later append/delete/flip. LOUD when the seq
    * was never committed or has aged past the retention window
    * ([[ManifestKeepConfKey]]); data liveness under a pinned serve is
    * the same grace contract as any in-flight reader ([[dropRetired]]
    * — retired dirs survive one compaction interval plus the
    * configured time grace). */
  def readManifestAt(spark: SparkSession, path: String, seq: Int)
      : Map[String, String] = {
    val f = IndexFs.fs(spark, path)
    val p = new Path(s"$path/${manifestGenFile(seq)}")
    val bytes = try {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toByteArray
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalStateException(
          s"$path has no manifest commit $seq (available: " +
            s"${availableManifestSeqs(spark, path).mkString(",")}) — " +
            s"never committed, or aged past the $ManifestKeepConfKey " +
            "retention window")
    }
    val m = mapper.readValue(bytes, classOf[java.util.Map[String, String]])
    val b = Map.newBuilder[String, String]
    m.forEach((k, v) => b += (k -> v))
    b.result()
  }

  /** Resolve the current manifest: the HIGHEST-N `_manifest-N.json`
    * wins (a torn commit that left both N and N−1 behind — or a crash
    * before cleanup — resolves deterministically to N); an index with
    * no per-generation files falls back to the legacy `_manifest.json`
    * (pre-monotonic layouts stay readable without a rebuild).
    *
    * List-to-open race: the resolved file survives at least one full
    * flip interval after a newer one lands (the ≤ N−2 cleanup rule),
    * but TWO flips completing inside this method's list→open window
    * could delete it — in that pathological case the read RETRIES with
    * a fresh listing (the newest manifest always exists) instead of
    * surfacing a spurious FileNotFound to a serve.
    *
    * Cost note: resolution is ONE directory LIST per manifest read —
    * the same price every log-structured table format pays per
    * snapshot resolution (Delta lists `_delta_log/`); serves resolve
    * once per query batch / micro-batch, and all data reads below it
    * are unchanged. */
  def readManifest(spark: SparkSession, path: String)
      : Option[Map[String, String]] = {
    val f = IndexFs.fs(spark, path)
    def readBytes(p: Path): Option[Array[Byte]] =
      try {
        val in = f.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
          Some(buf.toByteArray)
        } finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    def parse(bytes: Array[Byte]): Map[String, String] = {
      val m = mapper.readValue(bytes, classOf[java.util.Map[String, String]])
      val b = Map.newBuilder[String, String]
      m.forEach((k, v) => b += (k -> v))
      b.result()
    }
    def attempt(retries: Int): Option[Map[String, String]] = {
      val gens = listManifestGens(f, path)
      if (gens.isEmpty) {
        // legacy / pre-monotonic layout (or no index at all)
        readBytes(new Path(s"$path/$ManifestFile")).map(parse)
      } else readBytes(new Path(s"$path/${manifestGenFile(gens.max)}")) match {
        case Some(bytes) => Some(parse(bytes))
        // the listed newest file vanished: only possible when two+
        // flips completed inside the list→open window — RE-LIST (the
        // newest manifest always exists); open-directly-then-catch, so
        // the missing-file signal cannot leak out as a spurious
        // "not an index" the way an exists() pre-check would
        case None if retries > 0 => attempt(retries - 1)
        // pathological flip storm: the co-written pointer is the
        // terminal fallback — always present on any committed layout
        case None => readBytes(new Path(s"$path/$ManifestFile")).map(parse)
      }
    }
    attempt(retries = 2)
  }

  /** The manifest of an index that MUST exist and be of `format` — the
    * gate every maintenance verb and path-based serve passes through.
    * Loud failures, each naming the path: no manifest (not an index
    * built by this layer, or a pre-manifest layout needing a rebuild),
    * foreign format (an IVF verb pointed at a MinHash index), or a
    * schemaVersion from newer code. */
  def requireManifest(spark: SparkSession, path: String,
      format: String): Map[String, String] =
    validated(readManifest(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no $ManifestFile: not a persisted index of this " +
          "layout (or a pre-manifest layout — rebuild it with the save " +
          "verb)")), path, format)

  /** [[requireManifest]] pinned at commit `seq` — the gate of every
    * as-of serve: same format/schemaVersion validation, resolved
    * against the retained historical commit instead of the head. */
  def requireManifestAt(spark: SparkSession, path: String,
      format: String, seq: Int): Map[String, String] =
    validated(readManifestAt(spark, path, seq), path, format)

  private def validated(m: Map[String, String], path: String,
      format: String): Map[String, String] = {
    val got = m.getOrElse("format", "<missing>")
    if (got != format) throw new IllegalStateException(
      s"$path is a '$got' index, not '$format': refusing to maintain/serve it")
    val v = param(m, path, "schemaVersion")
    val vNum = try v.toInt catch {
      case _: NumberFormatException => throw new IllegalStateException(
        s"$path/$ManifestFile has a non-numeric schemaVersion '$v'")
    }
    if (vNum > SchemaVersion) throw new IllegalStateException(
      s"$path was written by newer code (layout schemaVersion $v > " +
        s"$SchemaVersion): refusing to misread it")
    m
  }

  /** Typed accessor for a layout parameter every verb must agree on —
    * absence is loud (a hand-edited or truncated manifest must not
    * default silently). */
  def param(m: Map[String, String], path: String, key: String): String =
    m.getOrElse(key, throw new IllegalStateException(
      s"$path/$ManifestFile is missing layout parameter '$key'"))

  // ---------------------------------------------------------------
  // single-maintenance-writer lease
  // ---------------------------------------------------------------

  val LeaseFile = "_maintenance.lease"

  /** Session conf key overriding the lease TTL (milliseconds). */
  val LeaseTtlConfKey = "graft.index.leaseTtlMs"

  /** Default lease TTL: generous versus any sane single maintenance
    * verb, small versus an operator paging in to reclaim after a
    * crashed writer. */
  val DefaultLeaseTtlMs: Long = 15L * 60 * 1000

  /** Proof of lease ownership, threaded to [[renewLease]] (the
    * heartbeat a long compaction sends between staging and flip) and
    * [[releaseLease]]. `gen` is the monotonic lease generation this
    * handle's file claims — the ownership key. */
  final case class LeaseHandle(writerId: String, ttlMs: Long, gen: Int)

  private def leasePath(path: String) = new Path(s"$path/$LeaseFile")

  private val LeaseGenRe = "_maintenance\\.lease-(\\d+)".r

  /** The per-generation lease file an acquisition creates. */
  private[graft] def leaseGenFile(gen: Int): String = s"$LeaseFile-$gen"

  private def listLeaseGens(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Int] = {
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap(st => st.getPath.getName match {
      case LeaseGenRe(n) => Some(n.toInt)
      case _ => None
    })
  }

  /** The CURRENT lease as (gen, holder, acquiredAtMs, ttlMs): the
    * HIGHEST-generation `_maintenance.lease-N` file, or the legacy
    * single `_maintenance.lease` as generation 0 when no generation
    * files exist (pre-monotonic binaries' leases stay honored). Why
    * generations at all: the old single-file protocol arbitrated
    * expired-lease reclaim by rename-then-recreate, and the
    * PropertySpec reclaim schedules proved it unsound — a slow
    * reclaimer that had read the EXPIRED lease could rename away the
    * FRESH lease a faster reclaimer had just created (rename moves
    * whatever file is at the path, not the file that was read), and
    * the no-file window between its rename and restore let a third
    * racer create too: two live owners. With monotonic generations
    * ownership is simply "holder of the highest N"; claiming is ONE
    * atomic create-exclusive of N+1 (no renames, and nobody ever
    * deletes or moves another writer's live file), so two owners
    * would require two successful creates of the same name. */
  private def currentLease(f: org.apache.hadoop.fs.FileSystem, path: String,
      fallbackTtlMs: Long): Option[(Int, String, Long, Long)] = {
    val gens = listLeaseGens(f, path)
    val fromGens =
      if (gens.isEmpty) None
      else {
        val g = gens.max
        readLeaseFile(f, new Path(s"$path/${leaseGenFile(g)}"), fallbackTtlMs)
          .map { case (h, at, t) => (g, h, at, t) }
      }
    // fall through to the legacy single file when the generation files
    // yield no standing lease (none exist, or the highest is a
    // released stamp): an old binary that create-exclusively acquired
    // `_maintenance.lease` keeps being honored in a mixed-version
    // deployment even though this protocol's released stamps persist
    fromGens.orElse(readLeaseFile(f, leasePath(path), fallbackTtlMs)
      .map { case (h, at, t) => (0, h, at, t) })
  }

  /** (holder, acquiredAtMs, ttlMs) of the standing lease, if any. A
    * lease file that exists but does not parse (a writer crashed mid-
    * create) is NOT allowed to block maintenance forever: it reports
    * its FileSystem modification time as its acquisition time under
    * `fallbackTtlMs`, so it expires like any other lease. */
  private def readLease(f: org.apache.hadoop.fs.FileSystem, path: String,
      fallbackTtlMs: Long): Option[(String, Long, Long)] =
    currentLease(f, path, fallbackTtlMs)
      .map { case (_, h, at, t) => (h, at, t) }

  /** Parse one lease file. Three outcomes: a standing lease tuple; None
    * for an absent file or a RELEASED stamp (the tombstone
    * [[releaseLease]] leaves behind so lease generations are never
    * reused — it is not a lease, it is the monotonic high-water
    * record); and for a file that exists but does not parse (a writer
    * crashed mid-create) the mtime-fallback tuple, so a torn file
    * expires like any lease instead of wedging maintenance forever. */
  private def readLeaseFile(f: org.apache.hadoop.fs.FileSystem, p: Path,
      fallbackTtlMs: Long): Option[(String, Long, Long)] = {
    if (!f.exists(p)) None
    else {
      // Some(None) = parsed released stamp; Some(Some(t)) = parsed
      // lease; None = unparseable (fall back to mtime expiry below)
      val parsed: Option[Option[(String, Long, Long)]] = try {
        val in = f.open(p)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
          buf.toByteArray
        } finally in.close()
        val m = mapper.readValue(bytes, classOf[java.util.Map[String, String]])
        if ("true" == m.get("released")) Some(None)
        else Some(Some((m.get("writerId"), m.get("acquiredAtMs").toLong,
          m.get("ttlMs").toLong)))
      } catch { case scala.util.control.NonFatal(_) => None }
      parsed.getOrElse {
        try Some(("<unreadable>", f.getFileStatus(p).getModificationTime,
          fallbackTtlMs))
        catch { case _: java.io.FileNotFoundException => None }
      }
    }
  }

  private def writeLeaseTo(f: org.apache.hadoop.fs.FileSystem, p: Path,
      writerId: String, ttlMs: Long, overwrite: Boolean,
      released: Boolean = false): Unit = {
    val kv = new java.util.TreeMap[String, String](
      java.util.Map.of("writerId", writerId,
        "acquiredAtMs", System.currentTimeMillis().toString,
        "ttlMs", ttlMs.toString))
    if (released) kv.put("released", "true")
    val json = mapper.writeValueAsString(kv)
    // exclusive create when !overwrite — THE arbitration point of the
    // whole protocol. Hadoop's LocalFileSystem implements
    // create(overwrite=false) as a CHECK-THEN-ACT (exists() then open)
    // — two in-process racers can both pass the check and both believe
    // they acquired, the exact two-owner outcome the lease exists to
    // prevent (found by the PropertySpec reclaim schedules). On the
    // file scheme we therefore go through NIO's CREATE_NEW, a single
    // atomic O_EXCL open; HDFS create-exclusive is namenode-atomic
    // already, and the S3A HEAD-then-PUT window remains the documented
    // caveat.
    val out: java.io.OutputStream =
      if (!overwrite && f.getScheme == "file") {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        java.nio.file.Files.newOutputStream(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      } else f.create(p, overwrite)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Claim lease generation `gen` by one atomic create-exclusive —
    * true iff this writer's create was THE one that materialized the
    * file. */
  private def tryClaimLease(f: org.apache.hadoop.fs.FileSystem,
      path: String, gen: Int, writerId: String, ttlMs: Long): Boolean = {
    val p = new Path(s"$path/${leaseGenFile(gen)}")
    try { writeLeaseTo(f, p, writerId, ttlMs, overwrite = false); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      // LocalFileSystem signals an existing file with a plain
      // IOException; only swallow it when the file really exists
      case e: java.io.IOException =>
        if (f.exists(p)) false else throw e
    }
  }

  /** ENFORCE the one-maintenance-writer contract: acquire the index's
    * lease file, run `body`, release. Every maintenance verb of both
    * families (append / delete / compact — and refresh, which composes
    * them) runs under this, so the layout's one silent-data-loss mode
    * — an append landing in the old open generation root while a
    * compaction is staging gets retired by the flip without being
    * folded in (and symmetrically: a tombstone appended during staging
    * gets dropped by the flip without being resolved) — becomes a LOUD
    * failure at the second writer's acquire instead.
    *
    * Mechanics: acquisition is an EXCLUSIVE create (`overwrite =
    * false`) of `_maintenance.lease` — namenode-atomic on HDFS, and on
    * the file scheme a single NIO CREATE_NEW (O_EXCL) open, because
    * Hadoop's LocalFileSystem create-exclusive is exists-then-open
    * and two in-process racers could both pass the check (found and
    * pinned by the PropertySpec reclaim schedules); on S3A,
    * create-exclusive is a HEAD-then-PUT with a small race window,
    * the standard caveat (S3 conditional writes close it on stores
    * that support If-None-Match). A standing
    * unexpired lease throws, naming the holder and its expiry. A lease
    * whose TTL has passed is a CRASHED writer's: it is reclaimed by
    * claiming the NEXT generation (one exclusive create — nobody ever
    * deletes or renames another writer's live file), so no operator
    * intervention is needed beyond waiting out the TTL. Release stamps
    * the handle's own file released/ttl-0 instead of deleting it
    * ([[releaseLease]] — the stamp keeps the generation sequence
    * monotonic so racers around a release can never claim two
    * different names), and only while the handle still holds it — a
    * reclaimed-after-expiry lease is never touched under its new
    * owner.
    *
    * NOT leased: serves (readers are lock-free by design — the whole
    * point of the generation layout) and the full-rebuild save verbs
    * (they delete and recreate the entire index path, lease file
    * included; scheduling a rebuild against live maintenance is a
    * deployment-level decision this file-level lease cannot arbitrate).
    *
    * TTL defaults to [[DefaultLeaseTtlMs]]; override per session via
    * `graft.index.leaseTtlMs`. A verb expected to outlive the TTL
    * calls [[renewLease]] at its internal checkpoints (the compactions
    * renew between staging and flip, which doubles as a cheap
    * still-the-owner assertion right before the commit). */
  def withMaintenanceLease[T](spark: SparkSession, path: String)
      (body: LeaseHandle => T): T = {
    val ttl = spark.conf.getOption(LeaseTtlConfKey).map(_.toLong)
      .getOrElse(DefaultLeaseTtlMs)
    val h = acquireLease(spark, path, ttl)
    try {
      val r = body(h)
      // COMPLETION GATE: a verb that never renews (append/delete/delta
      // folds) and overran its TTL may have raced a reclaiming writer —
      // its writes could have landed in roots a concurrent flip already
      // retired, so success would be a lie. Verbs expected to run long
      // renew at their internal checkpoints; everything else pays one
      // lease read here to turn the overrun into a LOUD failure.
      if (!readLease(IndexFs.fs(spark, path), path, h.ttlMs)
          .exists(_._1 == h.writerId))
        throw new IllegalStateException(
          s"maintenance lease on $path was lost before the verb " +
            "finished (TTL overrun + reclaim): its writes may have " +
            "raced a concurrent flip — treat this verb as FAILED and " +
            "re-run it (raise graft.index.leaseTtlMs for long verbs)")
      r
    } finally releaseLease(spark, path, h)
  }

  def acquireLease(spark: SparkSession, path: String, ttlMs: Long)
      : LeaseHandle = {
    val f = IndexFs.fs(spark, path)
    f.mkdirs(new Path(path))
    val id = java.util.UUID.randomUUID().toString
    var attempts = 0
    while (attempts < 4) {
      val gens = listLeaseGens(f, path)
      val curGen = if (gens.nonEmpty) gens.max else 0
      currentLease(f, path, ttlMs) match {
        case Some((_, holder, at, ttl))
            if System.currentTimeMillis() < at + ttl =>
          throw new IllegalStateException(
            s"$path is under maintenance by writer $holder (lease " +
              s"expires ${new java.util.Date(at + ttl)}): concurrent " +
              "maintenance would lose appends/deletes silently — " +
              "serialize the verbs, or wait out the TTL if the holder " +
              "crashed")
        case _ =>
          // expired, vanished between list and read, or absent: claim
          // the NEXT generation by one atomic create-exclusive — the
          // sole arbitration point. No renames, and nobody ever
          // deletes or moves another writer's LIVE file, so two
          // owners would require two successful creates of one name.
          // The loser loops, reads the winner's fresh lease, and
          // throws the loud standing-lease error above.
          if (tryClaimLease(f, path, curGen + 1, id, ttlMs)) {
            // POST-CLAIM VERIFY: the claim is ours only if it is still
            // the HIGHEST generation. A create that succeeded because a
            // later acquire's sweep deleted this generation's old file
            // (this writer listed, stalled, and claimed from a stale
            // curGen) is a claim BELOW the current max — and since the
            // sweep of generation N runs strictly AFTER generation N+1
            // was created, the higher file is already visible to this
            // re-list: abandon (the stale file is inert below the max
            // and swept later), loop, and fail loudly on the real
            // owner's standing lease. Without this check the sweep
            // would re-open the very two-owner race the monotonic
            // claim closed.
            // maxOption: a concurrent full-rebuild save deletes the
            // whole index path (lease files included) — an empty
            // re-list must fall through to the retry loop's loud
            // failure, not throw bare NoSuchElementException
            if (listLeaseGens(f, path).maxOption.contains(curGen + 1)) {
              // sweep superseded relics — strictly lower generations:
              // every one expired, released, or owned by a writer whose
              // renew/completion gate will fail loudly anyway;
              // ownership is by HIGHEST N, so deleting lower files can
              // never change it. Deleting ONLY strictly-superseded
              // files (never the current one — release stamps it
              // instead of deleting) is what keeps the claim target
              // monotonic: the listing a racer takes always contains
              // the highest generation ever claimed, so racers
              // arriving around a release converge on the SAME next
              // name (one create-exclusive wins) instead of claiming
              // two different ones.
              gens.filter(_ <= curGen).foreach(g =>
                f.delete(new Path(s"$path/${leaseGenFile(g)}"), false))
              // legacy single-file sweep, mixed-version-safe: re-read
              // it RIGHT BEFORE deleting and keep it if an old binary
              // create-exclusively acquired a fresh lease there between
              // our currentLease read and this claim — deleting that
              // live file would let a third old-binary writer acquire
              // concurrently. (The old binary and this writer still
              // overlap — monotonic files cannot arbitrate a protocol
              // the old binary does not speak — but the sweep must not
              // WIDEN the exposure to a third writer.)
              val legacy = readLeaseFile(f, leasePath(path), ttlMs)
              val legacyFresh = legacy.exists { case (_, at, t) =>
                System.currentTimeMillis() < at + t }
              if (legacyFresh) {
                // an old binary create-exclusively acquired a LIVE
                // legacy lease between our currentLease read and this
                // claim. Monotonic files cannot arbitrate a protocol
                // the old binary does not speak, so proceeding means
                // two knowing concurrent owners — strictly worse than
                // failing. Stamp our own just-claimed generation
                // released (keeping the high-water record) and throw
                // the standing-lease error naming the legacy holder.
                writeLeaseTo(f, new Path(s"$path/${leaseGenFile(curGen + 1)}"),
                  id, 0L, overwrite = true, released = true)
                throw new IllegalStateException(
                  s"$path is under maintenance by LEGACY writer " +
                    s"${legacy.map(_._1).getOrElse("<unknown>")} (old " +
                    "single-file lease acquired concurrently): refusing " +
                    "a second owner in a mixed-version deployment — " +
                    "serialize the verbs, or wait out the legacy TTL")
              }
              if (f.exists(leasePath(path)))
                f.delete(leasePath(path), false)
              return LeaseHandle(id, ttlMs, curGen + 1)
            }
            // else: abandoned (claim landed below the current max —
            // see the verify note); loop and fail loudly on the real
            // owner's standing lease
          }
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not acquire the maintenance lease on $path after " +
        s"$attempts claim attempts (another writer keeps winning)")
  }

  /** Heartbeat: re-stamp the lease's acquisition time — and FAIL LOUDLY
    * if this handle no longer holds it (TTL elapsed and another writer
    * claimed a higher generation): continuing to a manifest flip
    * without the lease could lose the new writer's work, so the verb
    * must abort instead. Overwriting our own generation file is safe:
    * no other writer ever targets an existing generation. */
  def renewLease(spark: SparkSession, path: String, h: LeaseHandle): Unit = {
    val f = IndexFs.fs(spark, path)
    currentLease(f, path, h.ttlMs) match {
      case Some((g, holder, _, _)) if g == h.gen && holder == h.writerId =>
        writeLeaseTo(f, new Path(s"$path/${leaseGenFile(h.gen)}"),
          h.writerId, h.ttlMs, overwrite = true)
      case other => throw new IllegalStateException(
        s"maintenance lease on $path lost mid-verb (now held by " +
          s"${other.map(_._2).getOrElse("<nobody>")}): aborting before " +
          "the manifest flip")
    }
  }

  /** The standing lease file's holder id, if any — expiry NOT applied
    * (an expired-but-unreclaimed holder still reads back). Ops/test
    * visibility only; the verbs use [[readLease]]'s full tuple. */
  private[graft] def leaseHolder(spark: SparkSession, path: String)
      : Option[String] =
    readLease(IndexFs.fs(spark, path), path, DefaultLeaseTtlMs).map(_._1)

  /** Release by overwriting the handle's own generation file with a
    * RELEASED/ttl-0 stamp — never by deleting it. The stamp is the
    * protocol's monotonic high-water record: [[acquireLease]] derives
    * its claim target (curGen + 1) from a directory listing, and if a
    * release DELETED the highest file, two racers straddling the
    * delete could compute DIFFERENT targets (one lists the emptied
    * dir and claims a reused low generation, the other got
    * FileNotFound reading the vanished gen and claims gen + 1) — two
    * successful create-exclusives on two different names, i.e. two
    * live owners, the exact unsoundness the monotonic rebuild
    * eliminated from the reclaim path. With the stamp, the highest
    * generation ever claimed is always visible to every lister, so
    * all racers converge on the SAME next name and one create wins.
    * At most one stamp persists: the next successful acquire sweeps
    * all strictly-superseded files after claiming. Only stamps while
    * this handle still holds the current lease — a handle that lost
    * ownership (TTL overrun + reclaim) must not touch the new owner's
    * file (symmetric with renew's loud abort). */
  def releaseLease(spark: SparkSession, path: String, h: LeaseHandle): Unit = {
    val f = IndexFs.fs(spark, path)
    if (currentLease(f, path, h.ttlMs).exists { case (g, holder, _, _) =>
        g == h.gen && holder == h.writerId })
      writeLeaseTo(f, new Path(s"$path/${leaseGenFile(h.gen)}"),
        h.writerId, 0L, overwrite = true, released = true)
  }

  def intParam(m: Map[String, String], path: String, key: String): Int =
    param(m, path, key).toInt

  /** Store the index's manifest-retention window as a layout parameter
    * (the `ALTER TABLE SET TBLPROPERTIES` of this layout): every later
    * commit — by ANY writer, whatever its session conf — retains the
    * trailing `keep` manifest commits, widening the as-of-serve /
    * commit-diff horizon ([[readManifestAt]], [[diffManifests]]).
    * A leased maintenance commit like any other (seq bumps, data
    * untouched); the fixtures that need seqs pinned use this instead
    * of mutating the session-global conf, which would leak the widened
    * retention into every concurrent commit on the shared session. */
  def setManifestKeep(spark: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 2, s"setManifestKeep($keep): retention must be >= 2")
    withMaintenanceLease(spark, path) { _ =>
      val m = readManifest(spark, path).getOrElse(
        throw new IllegalStateException(
          s"$path has no $ManifestFile: not a persisted index of this layout"))
      writeManifest(spark, path, m ++ Map(
        ManifestKeepParam -> keep.toString,
        "seq" -> (seqOf(m) + 1).toString))
    }
  }

  // ---------------------------------------------------------------
  // frame composition
  // ---------------------------------------------------------------

  private def joinEntries(es: Seq[String]): String = es.mkString(",")
  def frameEntries(m: Map[String, String], name: String): Seq[String] =
    m.getOrElse(s"frames.$name", "").split(",").filter(_.nonEmpty).toSeq

  /** The single OPEN generation root of a frame — the LAST composition
    * entry by convention, always a whole `name/gN` directory: the
    * compaction's staging target. Appends do NOT land here — they
    * stage their own batch roots ([[stageAppendBatch]]) spliced into
    * the composition just before this entry. */
  def openRoot(m: Map[String, String], name: String): String = {
    val es = frameEntries(m, name)
    require(es.nonEmpty && (es.last.split("/") match {
        case Array(_, g) => g.matches("g\\d+")
        case _ => false
      }),
      s"frame '$name' has no open generation root in ${es.mkString(",")}")
    es.last
  }

  def frameSchema(m: Map[String, String], name: String): StructType =
    StructType.fromDDL(m.getOrElse(s"schema.$name",
      throw new IllegalStateException(
        s"manifest is missing the stored schema of frame '$name' — " +
          "hand-edited or truncated?")))

  /** The manifest for a FRESH index: generation 0, one open root per
    * frame, no retired dirs. The caller has already written the g0
    * data dirs (or not — a frame may start empty, e.g. tombstones). */
  def newManifest(format: String, params: Map[String, String],
      schemas: Map[String, StructType],
      schemaVersion: Int = 1): Map[String, String] =
    params ++ Map(
      "format" -> format,
      "schemaVersion" -> schemaVersion.toString,
      "gen" -> "0",
      "seq" -> "0",
      "retired" -> "") ++
      schemas.flatMap { case (name, st) => Seq(
        s"frames.$name" -> s"$name/g0",
        s"schema.$name" -> st.toDDL)
      }

  /** Where a fresh build writes frame `name`'s data. */
  def genRoot(path: String, name: String, gen: Int): String =
    s"$path/$name/g$gen"

  /** Read one frame of the composition as (0..n) per-GENERATION-GROUP
    * scans, each normalized to the manifest schema (column order and
    * the partition column's original type — directory inference types
    * partition values itself, e.g. int where the written column was
    * long). Callers that need join-per-scan plan shapes (dynamic
    * partition pruning does not reach scans through a Union) take the
    * groups; [[readFrame]] unions them. Directories with no committed
    * parquet footers are skipped — including the open root of a frame
    * nothing was written to yet. */
  def readFrameGroups(spark: SparkSession, path: String,
      m: Map[String, String], name: String): Seq[DataFrame] = {
    val schema = frameSchema(m, name)
    val normalize = (df: DataFrame) =>
      df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    frameEntries(m, name)
      .groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
      .flatMap { case (root, es) =>
        val rootAbs = s"$path/$root"
        if (es.contains(root)) {
          if (IndexFs.hasParquetData(spark, rootAbs))
            Some(spark.read.parquet(rootAbs))
          else None
        } else {
          val present = es.filter(e => IndexFs.hasParquetData(spark, s"$path/$e"))
          if (present.isEmpty) None
          else Some(spark.read.option("basePath", rootAbs)
            .parquet(present.map(e => s"$path/$e"): _*))
        }
      }
      .map(normalize)
  }

  /** One frame as a single DataFrame — the union of its groups, or an
    * EMPTY frame with the manifest schema when no directory holds
    * committed data (the manifest-state form of emptiness: no anchor
    * files, no path-shape lore). */
  def readFrame(spark: SparkSession, path: String,
      m: Map[String, String], name: String): DataFrame =
    readFrameGroups(spark, path, m, name).reduceOption(_.union(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], frameSchema(m, name)))

  /** A batch root's directory name under its frame: `a<seq>` for the
    * batch append verbs, `b<seq>_<batchId>` for streaming micro-batch
    * sinks — both carry the manifest seq the commit will hold, so the
    * name is deterministic under a replay that found the manifest
    * unchanged (the stage overwrites the same root, idempotent) and
    * GLOBALLY UNIQUE otherwise (seq is monotonic across the index's
    * whole life, so a re-run batch id, a fresh stream checkpoint, or a
    * post-compaction epoch can never collide with a live or retired
    * root of an earlier commit). */
  private[graft] val BatchRootRe = "[ab]\\d+(_\\d+)?".r

  /** Committed batch-root entries (`aN`/`bN_M`) still in frame
    * `name`'s composition — the serve fan-out appends accumulate: each
    * committed batch adds one union-ed scan to every serve of this
    * frame until a compaction folds them back into a generation root.
    * Metadata-only (one manifest map lookup), which is what lets an
    * autopilot poll it nightly for free — the composition-length
    * trigger both family autopilots fire a fold on. */
  def batchRootCount(m: Map[String, String], name: String): Int =
    // count DISTINCT batch roots by their aN/bN_M segment regardless of
    // entry depth: a 3-segment partition entry under a batch root
    // (retained by stageCompactFrame's formatter-mismatch RETAIN
    // fallback) still adds serve fan-out, so it must keep pressuring
    // the composition-length fold trigger — a depth==2 filter would
    // let it escape the count permanently
    frameEntries(m, name).flatMap { e =>
      e.split("/").drop(1).headOption.filter(BatchRootRe.matches)
    }.distinct.size

  /** The maximum [[batchRootCount]] across all frames of `m`. */
  def maxBatchRootCount(m: Map[String, String]): Int =
    m.keys.filter(_.startsWith("frames.")).map(k =>
      batchRootCount(m, k.stripPrefix("frames."))).maxOption.getOrElse(0)

  /** STAGE one append batch of frame `name` into the fresh batch root
    * `name/<tag>` — INVISIBLE until [[commitAppend]] splices it into
    * the composition (no manifest references it yet, and readers
    * resolve files from the manifest, never by listing). The write is
    * `overwrite`, so a replay after a kill rewrites the same root
    * byte-equivalently instead of doubling rows. `partCol` keeps the
    * layout's pruning directories; the batch-sized repartition writes
    * ≤1 file per partition value instead of tasks × values.
    *
    * @return the composition entry to commit, or None when the batch
    *         wrote no committed footers (an all-empty batch must not
    *         grow the composition — and for unpartitioned frames an
    *         empty write would leave a schema-anchor footer that reads
    *         back as rows-present). */
  def stageAppendBatch(spark: SparkSession, path: String, name: String,
      tag: String, df: DataFrame, partCol: Option[String])
      : Option[String] = {
    require(BatchRootRe.matches(tag), s"batch root tag '$tag' must be aN/bN")
    val entry = s"$name/$tag"
    val target = s"$path/$entry"
    val wrote = partCol match {
      case Some(p) =>
        // a partitioned empty write emits no partition dirs and no
        // footers — emptiness is detectable AFTER the write
        df.repartition(col(p)).write.mode("overwrite")
          .partitionBy(p).parquet(target)
        IndexFs.hasParquetData(spark, target)
      case None =>
        // an UNPARTITIONED empty write would emit one schema-anchor
        // footer that reads back as rows-present — probe the batch
        // first (persisted, so the probe and the write agree even if
        // the source moves between the two jobs)
        val d = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (d.take(1).isEmpty) false
          else { d.write.mode("overwrite").parquet(target); true }
        } finally d.unpersist(blocking = false)
    }
    if (wrote) Some(entry)
    else { IndexFs.delete(spark, target); None }
  }

  /** The ONE atomic commit closing an append: splice every staged
    * batch entry into its frame's composition (just before the open
    * generation root, preserving the [[openRoot]] last-entry
    * convention) and commit the next manifest seq. Batch visibility is
    * atomic ACROSS frames — a dual-frame append stages both roots,
    * then becomes visible here or not at all; a kill before this
    * commit leaves only unreferenced staging ([[dropRetired]]'s orphan
    * sweep reclaims it). Re-committing an entry the composition
    * already holds is a no-op splice (the streaming sink's replay
    * path: stage overwrote the same `bN` root, the commit must not
    * double the entry). */
  def commitAppend(spark: SparkSession, path: String,
      m: Map[String, String], staged: Map[String, String]): Unit = {
    val updated = m ++ staged.collect {
      case (name, entry) if !frameEntries(m, name).contains(entry) =>
        val es = frameEntries(m, name)
        s"frames.$name" -> joinEntries(es.init ++ Seq(entry, es.last))
    } + ("seq" -> (seqOf(m) + 1).toString)
    writeManifest(spark, path, updated)
  }

  // ---------------------------------------------------------------
  // compaction staging (no manifest writes here — a flipGeneration
  // stage closure stages every frame, then the protocol flips ONCE)
  // ---------------------------------------------------------------

  /** On-disk `partCol=v` directory names directly under `absDir`.
    * LOUD on a comma: ',' is the manifest composition's entry delimiter
    * and Spark's path escaper leaves it unescaped, so a comma-bearing
    * partition directory would round-trip through `frames.*` as two
    * bogus entries and its rows would silently vanish from every read —
    * refusing at first sight (the first compaction that expands the
    * dir) beats representing it wrongly. */
  private def listPartDirNames(spark: SparkSession, absDir: String,
      partCol: String): Seq[String] = {
    val f = IndexFs.fs(spark, absDir)
    val p = new Path(absDir)
    if (!f.exists(p)) Seq.empty
    else {
      val names = f.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(s"$partCol=")).toSeq
      names.find(_.contains(",")).foreach(n =>
        throw new IllegalStateException(
          s"$absDir/$n: partition values containing ',' are not " +
            "representable in this layout's manifest composition — " +
            "partition on a comma-free column (or encode the value)"))
      names
    }
  }

  /** Stage a PRUNED compaction of frame `name`: read the current
    * composition, keep only the `affected` partitions — PLUS every
    * partition whose rows are split across more than one composition
    * entry (see below) — anti-join the tombstoned ids out, and write
    * the survivors into generation `newGen`; all other partitions are
    * never read, listed, or moved. Returns the frame's new composition
    * entries and the directories the flip retires.
    *
    * The split-partition FOLD is what makes the layout's bounded-
    * composition claim hold for REAL workloads, not just pure
    * delete/compact cycles: an append between two compactions lands in
    * the then-open generation root, so a partition untouched by any
    * tombstone can end up with one sealed entry per generation it
    * received appends in — without the fold, manifest entries and
    * read-path scan fan-out would grow with generations. Folding every
    * >1-entry partition into the new root consolidates them to one
    * entry each, restoring ≤ partitions + 1 at every compaction. The
    * folded partitions' values are recovered from Spark's own
    * partition-column inference over the duplicated directories
    * (bounded: ≤ one distinct value per duplicated dir) — never by
    * parsing directory names back into values.
    *
    * Formatting safety of the keep-or-retire split: survivors staged
    * under the new root get their directory names from Spark's own
    * partition formatting, and the old entries' names were written by
    * the same formatter — so names compare name-to-name for every
    * partition that staged data. A partition whose every row died
    * (nothing staged) falls back to formatting `affected` values into
    * names THROUGH SPARK'S OWN PATH ESCAPER
    * (`ExternalCatalogUtils.escapePathName` — the exact function the
    * writer used), so escapable string values retire correctly too;
    * property-pinned over escaped strings and negative longs. Should a
    * residual mismatch ever arise, the split RETAINS the entry rather
    * than duplicating data. */
  def stageCompactFrame(spark: SparkSession, path: String,
      m: Map[String, String], name: String, partCol: String,
      affected: Seq[Any], tomb: DataFrame, idCol: String, newGen: Int)
      : (Seq[String], Seq[String]) = {
    val newRoot = s"$name/g$newGen"
    // expand whole-root entries into their on-disk partition dirs so
    // the affected ones can be retired individually; the open root of
    // the OLD generation becomes a set of sealed partition entries
    val expanded = frameEntries(m, name).flatMap { e =>
      if (e.split("/").length == 2)
        listPartDirNames(spark, s"$path/$e", partCol).map(n => s"$e/$n")
      else Seq(e)
    }
    // partitions present in >1 entry get folded into the new root too,
    // and so does EVERY partition living under a committed batch root
    // (aN/bN) even if nothing duplicates it — batch roots are the
    // transient entries appends splice in, and a compaction must
    // always consolidate them or an append-only partition mix would
    // keep one scan group per committed batch alive forever (the
    // composition-length trigger's whole point)
    val dupNames = expanded.groupBy(_.split("/").last)
      .collect { case (n, es) if es.size > 1 => n }.toSet ++
      expanded.collect {
        case e if e.split("/").length == 3 &&
            BatchRootRe.matches(e.split("/")(1)) => e.split("/").last
      }
    val foldVals: Seq[Any] =
      if (dupNames.isEmpty) Seq.empty
      else expanded.filter(e => dupNames.contains(e.split("/").last))
        .groupBy(_.split("/").take(2).mkString("/")).toSeq.sortBy(_._1)
        .flatMap { case (root, es) =>
          val present =
            es.filter(e => IndexFs.hasParquetData(spark, s"$path/$e"))
          if (present.isEmpty) None
          else Some(spark.read.option("basePath", s"$path/$root")
            .parquet(present.map(e => s"$path/$e"): _*)
            .select(col(partCol)).distinct())
        }
        .reduceOption(_.union(_))
        .map(_.distinct().collect().map(_.get(0)).toSeq)
        .getOrElse(Seq.empty)
    val allAffected = (affected ++ foldVals).distinct
    val groups = readFrameGroups(spark, path, m, name)
    if (groups.nonEmpty && allAffected.nonEmpty)
      groups.reduce(_.union(_))
        .filter(col(partCol).isin(allAffected: _*))
        .join(tomb.select(col(idCol)), Seq(idCol), "left_anti")
        .repartition(col(partCol))
        .write.mode("overwrite") // staging replay after a kill is idempotent
        .partitionBy(partCol).parquet(s"$path/$newRoot")
    val staged = listPartDirNames(spark, s"$path/$newRoot", partCol).toSet
    // fully-dead partitions (nothing staged) are matched by formatting
    // the affected values through Spark's OWN partition-path escaper —
    // the same code the writer used to name the directory — so an
    // escapable string value ("a:b" → dir "pv=a%3Ab") still retires.
    // Raw toString formatting here would mismatch, RETAIN the entry,
    // and (the same flip dropping the tombstones) silently RESURRECT
    // the dead rows — pinned by the PropertySpec formatter property.
    val affectedNames = staged ++ allAffected.map(v => s"$partCol=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(String.valueOf(v)))
    val (retired, kept) =
      expanded.partition(e => affectedNames.contains(e.split("/").last))
    (kept :+ newRoot, retired)
  }

  /** Stage a WHOLE-frame rewrite into `newGen` (frames with no
    * id-derived partitioning, e.g. the MinHash bands): every current
    * entry retires, the new root is the entire surviving frame. */
  def stageRewriteFrame(spark: SparkSession, path: String,
      m: Map[String, String], name: String, partCol: String,
      tomb: DataFrame, idCol: String, newGen: Int)
      : (Seq[String], Seq[String]) = {
    val groups = readFrameGroups(spark, path, m, name)
    if (groups.nonEmpty)
      groups.reduce(_.union(_))
        .join(tomb.select(col(idCol)), Seq(idCol), "left_anti")
        .repartition(col(partCol))
        .write.mode("overwrite")
        .partitionBy(partCol).parquet(genRoot(path, name, newGen))
    stageReplaceFrame(m, name, newGen)
  }

  /** Stage a whole-frame REPLACEMENT: every current entry retires and
    * the single root `name/g<newGen>` takes over — holding what the
    * caller wrote there, or nothing (how a flip clears the tombstones
    * it resolved). */
  def stageReplaceFrame(m: Map[String, String], name: String, newGen: Int)
      : (Seq[String], Seq[String]) =
    (Seq(s"$name/g$newGen"), frameEntries(m, name))

  /** The daemon pool behind [[inParallel]]: cached, so threads are
    * reused across calls (a streaming ingest calls it every
    * micro-batch) and grow with nested calls instead of deadlocking. */
  private lazy val parallelPool = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-inParallel-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Run INDEPENDENT per-frame staging closures concurrently on the
    * shared session. A maintenance verb stages each of its frames into
    * its own fresh generation/batch root — disjoint directories, no
    * shared mutable state, manifest untouched until the single commit
    * that follows — so the stagings are independent jobs by
    * construction, and running them sequentially leaves most of the
    * cluster idle through each job's scheduling latency and stage
    * tails. Submitting them from one thread per frame lets Spark's
    * FIFO scheduler back-fill one staging's idle cores with the next
    * one's tasks (the guide's overlap-independent-jobs discipline);
    * the verb's wall time drops to roughly the slowest single staging
    * at every tier, local or cluster.
    *
    * Failure semantics: EVERY closure runs to completion before the
    * FIRST failure (in argument order) propagates to the caller, with
    * every later sibling failure attached to it as a suppressed
    * exception, so no diagnostic is lost. An
    * early rethrow would return while sibling stagings still write —
    * the caller's lease is released in its `finally`, so a re-run
    * could acquire the lease and race its own `mode(overwrite)` write
    * against the zombie writer into the same staging root (torn staged
    * data the re-run's flip then commits). Awaiting all stagings means
    * no writer of this verb survives the call, so the manifest is
    * untouched and a re-run after failure sees only quiescent,
    * unreferenced staging directories it fully overwrites. An async
    * CompletableFuture completes exceptionally on ANY Throwable (not
    * just NonFatal), so a fatal error (OOM, StackOverflowError) in a
    * closure surfaces instead of hanging the awaiting driver thread
    * forever.
    *
    * Spark local properties (job tags, job group, the SQL execution
    * id) are inherited only when a thread is CREATED, so a reused pool
    * thread would carry whatever an earlier caller had set: every
    * closure runs with the CALLER's properties and active session,
    * captured at submission (`SQLExecution.withThreadLocalCaptured`). */
  private[graft] def inParallel[A](fs: Seq[() => A]): Seq[A] =
    if (fs.lengthCompare(1) <= 0) fs.map(_())
    else {
      val session = org.apache.spark.sql.classic.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.classic.SparkSession.getDefaultSession)
      val futures = fs.map { f =>
        session match {
          case Some(s) => org.apache.spark.sql.execution.SQLExecution
            .withThreadLocalCaptured(s, parallelPool)(f())
          case None => java.util.concurrent.CompletableFuture
            .supplyAsync(() => f(), parallelPool)
        }
      }
      // each get() blocks until ITS task finishes — iterating them all
      // awaits every staging, whatever failed in between
      val outcomes = futures.map(fu => scala.util.Try(fu.get()))
      val failures = outcomes.collect {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException)
          if e.getCause != null => e.getCause
        case scala.util.Failure(e) => e
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
      outcomes.map(_.get)
    }

  /** Session conf key for the MINIMUM AGE (milliseconds) a retired
    * directory must reach before [[dropRetired]] physically deletes
    * it. Default 0: the structural one-compaction-interval grace alone
    * — retirement timestamps are always recorded, so the knob can be
    * raised at any time without a layout change. */
  val RetiredGraceConfKey = "graft.index.retiredGraceMs"

  /** The retired entries of `m` with their retirement timestamps.
    * `retiredAt` is a PARALLEL CSV of epoch millis (same order as
    * `retired`) — a purely additive manifest key, so manifests written
    * before it existed parse with timestamp 0 (immediately eligible,
    * the legacy behavior) and old binaries simply ignore it. */
  private def retiredWithTimestamps(m: Map[String, String])
      : Seq[(String, Long)] = {
    val dirs = m.getOrElse("retired", "").split(",").filter(_.nonEmpty).toSeq
    val ats = m.getOrElse("retiredAt", "").split(",").filter(_.nonEmpty)
      .map(_.toLong).toSeq
    dirs.zipAll(ats.take(dirs.length), "", 0L).filter(_._1.nonEmpty)
  }

  /** Physically delete the directories retired by PREVIOUS flips —
    * called at the START of a compaction, so retired data survives at
    * least one full compaction interval for in-flight readers of the
    * old manifest (the structural grace contract). On top of that,
    * [[RetiredGraceConfKey]] sets a TIME-BASED minimum: a dir younger
    * than the configured grace is RETAINED (returned to the caller,
    * which threads it through [[flip]] so it stays tracked for a later
    * compaction) — without this, two back-to-back compactions could
    * delete dirs a slow in-flight serve still holds, turning the
    * liveness contract ("no serve outlives a compaction interval")
    * from a deployment schedule into a hard race. Cleans up generation
    * roots the deletions emptied.
    *
    * @return the retired entries still inside the grace window, for
    *         the closing flip to carry forward. */
  private def dropRetired(spark: SparkSession, path: String,
      m: Map[String, String]): Seq[(String, Long)] = {
    val minAge = spark.conf.getOption(RetiredGraceConfKey).map(_.toLong)
      .getOrElse(0L)
    val now = System.currentTimeMillis()
    sweepOrphanBatchRoots(spark, path, m)
    val (kept, dropped) = retiredWithTimestamps(m)
      .partition { case (_, at) => now - at < minAge }
    dropped.foreach { case (d, _) => IndexFs.delete(spark, s"$path/$d") }
    dropped.map(_._1.split("/").take(2).mkString("/")).distinct.foreach { root =>
      val f = IndexFs.fs(spark, path)
      val p = new Path(s"$path/$root")
      // emptiness must ignore commit markers: a partitioned write's
      // _SUCCESS survives the partition-dir deletions, and counting it
      // would keep every drained generation root alive forever. (A
      // root shared with a grace-retained dir is not emptied — the
      // retained dir keeps it alive.)
      def emptied = !f.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !(n.startsWith("_") || n.startsWith("."))
      }
      if (f.exists(p) && emptied) f.delete(p, true)
    }
    kept
  }

  /** Reclaim CRASHED-append staging: delete any `name/aN`/`name/bN`
    * batch root referenced by NEITHER the composition NOR the retired
    * list — only a kill between [[stageAppendBatch]] and
    * [[commitAppend]] that was never replayed leaves one. Safe under
    * the caller's lease (no append can be staging concurrently), and
    * safe for pinned as-of readers: a batch root an OLDER manifest
    * references is always in the current composition or the retired
    * list too (compaction retires entries, it never silently drops
    * them), so an unreferenced root was never visible to any reader.
    * Called at compaction start alongside [[dropRetired]]'s physical
    * deletes. */
  private def sweepOrphanBatchRoots(spark: SparkSession, path: String,
      m: Map[String, String]): Unit = {
    val f = IndexFs.fs(spark, path)
    val referenced = (m.keys.filter(_.startsWith("frames."))
      .flatMap(k => frameEntries(m, k.stripPrefix("frames."))) ++
      m.getOrElse("retired", "").split(",").filter(_.nonEmpty))
      .map(_.split("/").take(2).mkString("/")).toSet
    m.keys.filter(_.startsWith("frames.")).map(_.stripPrefix("frames."))
      .foreach { name =>
        val dir = new Path(s"$path/$name")
        if (f.exists(dir))
          f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
            .filter(n => BatchRootRe.matches(n) &&
              !referenced.contains(s"$name/$n"))
            .foreach(n => f.delete(new Path(s"$path/$name/$n"), true))
      }
  }

  /** The ONE atomic flip closing a compaction: bump the generation,
    * replace every staged frame's composition, record the newly
    * retired directories — stamped with the flip time — plus any
    * grace-retained entries [[dropRetired]] carried forward, for a
    * later compaction's [[dropRetired]]. */
  private def flip(spark: SparkSession, path: String, m: Map[String, String],
      newGen: Int, staged: Map[String, (Seq[String], Seq[String])],
      carriedRetired: Seq[(String, Long)]): Unit = {
    val now = System.currentTimeMillis()
    // phantom filter: an open generation root nothing was ever written
    // to (appends land in their own batch roots, so e.g. a tombstone
    // frame's gN root often never materializes) retires as a manifest
    // entry with no directory behind it — recording it would make the
    // retired list lie to operators and to the grace accounting; one
    // exists() per retired entry (composition-bounded) keeps it honest
    val f = IndexFs.fs(spark, path)
    val allRetired = carriedRetired ++
      staged.values.flatMap(_._2).toSeq
        .filter(d => f.exists(new Path(s"$path/$d"))).map(d => (d, now))
    val updated = m ++
      staged.map { case (name, (es, _)) => s"frames.$name" -> joinEntries(es) } ++
      Map(
        "gen" -> newGen.toString,
        "seq" -> (seqOf(m) + 1).toString,
        "retired" -> joinEntries(allRetired.map(_._1)),
        "retiredAt" -> joinEntries(allRetired.map(_._2.toString)))
    writeManifest(spark, path, updated)
  }

  /** What one [[flipGeneration]] commits: each staged frame's (new
    * composition, retired entries), the layout-parameter updates
    * (`buckets`, `nList`, `trainOcc`), and whether the staged rows
    * have the standing tombstones resolved — then the flip swaps the
    * tombstone frame for a fresh empty open root. Frames absent from
    * `frames` carry through the flip unchanged. */
  final case class GenerationStage(
      frames: Map[String, (Seq[String], Seq[String])],
      params: Map[String, String] = Map.empty,
      resolvesTombstones: Boolean = false)

  /** THE generation-flip protocol every compaction-shaped verb of every
    * family runs (tombstone compaction, fold, rebucket, retrain,
    * sketch retention): under the maintenance lease, resolve the
    * manifest of `format` and hand it to `plan`. None commits nothing
    * and deletes nothing. Some(stage): delete the directories earlier
    * flips retired ([[dropRetired]]), run `stage(gen + 1)` — it writes
    * only into directories no manifest references yet — then renew
    * the lease (heartbeat plus a still-the-owner check right before
    * the commit) and [[flip]] once.
    *
    * Kill-safety is the protocol's, not each verb's: a `stage` that
    * throws (or a killed driver) leaves the manifest's seq, gen and
    * retired list untouched and only unreferenced staging behind,
    * which the re-run overwrites; the lease is released in either
    * case. */
  def flipGeneration(spark: SparkSession, path: String, format: String)
      (plan: Map[String, String] => Option[Int => GenerationStage]): Unit =
    withMaintenanceLease(spark, path) { lease =>
      val m = requireManifest(spark, path, format)
      plan(m).foreach { stage =>
        val carried = dropRetired(spark, path, m)
        val newGen = intParam(m, path, "gen") + 1
        val s = stage(newGen)
        val cleared =
          if (s.resolvesTombstones && m.contains("frames.tombstones"))
            Map("tombstones" -> stageReplaceFrame(m, "tombstones", newGen))
          else Map.empty
        renewLease(spark, path, lease)
        flip(spark, path, m ++ s.params, newGen, s.frames ++ cleared, carried)
      }
    }

  // ---------------------------------------------------------------
  // tombstones (shared by both families)
  // ---------------------------------------------------------------

  /** Append delete ids as a MANIFEST-COMMITTED tombstone batch —
    * O(delete-batch), standing data never touched: stage the distinct
    * ids into the fresh batch root `tombstones/a<nextSeq>` and splice
    * it into the composition with one [[commitAppend]]. A delete is
    * therefore atomic-visible exactly like a data append, and a pinned
    * as-of reader ([[readManifestAt]]) correctly does NOT see deletes
    * committed after its seq. An EMPTY id frame commits nothing
    * ([[stageAppendBatch]]'s None — a schema-anchor footer would read
    * back as tombstones-present and tax every later serve with a
    * pointless anti-join). Each batch root holds bare parquet files;
    * legacy `batch_id=N` dirs inside old open roots keep reading
    * through the stored frame schema unchanged. */
  def appendTombstones(spark: SparkSession, path: String,
      m: Map[String, String], ids: DataFrame, idCol: String): Unit =
    stageAppendBatch(spark, path, "tombstones", s"a${seqOf(m) + 1}",
      ids.select(col(idCol)).distinct(), None)
      .foreach(e => commitAppend(spark, path, m, Map("tombstones" -> e)))

  /** The standing tombstone ids, if any — None when no tombstone
    * directory holds committed data, so serves skip the anti-join
    * entirely until the first delete exists. */
  def loadTombstones(spark: SparkSession, path: String,
      m: Map[String, String], idCol: String): Option[DataFrame] =
    readFrameGroups(spark, path, m, "tombstones").reduceOption(_.union(_))
      .map(_.select(col(idCol)))

  /** DELETE ids from a persisted index of `format` (either family) —
    * the merge-on-read half of removal (corpus refresh, takedowns,
    * right-to-be-forgotten). The distinct ids are staged UNPARTITIONED
    * into the fresh batch root `<path>/tombstones/a<nextSeq>` and made
    * visible by one manifest commit ([[appendTombstones]]): an
    * O(delete-batch) write that never reads, lists or rewrites the
    * standing data, and an EMPTY id set commits nothing at all. Serves
    * strike tombstoned ids from then on — deletion is semantically
    * immediate — while their rows stay in storage until the family's
    * tombstone compaction ([[compactTombstones]]) removes them
    * physically and clears the tombstones at its flip: the
    * Iceberg/Delta delete-file discipline on this layout.
    *
    * Leased: a tombstone appended while a compaction is staging would
    * be dropped by its flip WITHOUT being resolved — a silently undone
    * delete, the worst failure a takedown pipeline can have.
    *
    * CONTRACT — id reuse: a standing tombstone shadows its id entirely,
    * including rows APPENDED after the delete, so re-admitting a
    * deleted id requires compacting first (or minting fresh ids).
    * Repeated deletes of one id accumulate harmless duplicate tombstone
    * rows until the compaction clears them. */
  def deleteIds(format: String, ids: DataFrame, path: String,
      idCol: String): Unit = {
    val spark = ids.sparkSession
    withMaintenanceLease(spark, path) { _ =>
      appendTombstones(spark, path, requireManifest(spark, path, format),
        ids, idCol)
    }
  }

  /** [[loadTombstones]] of the head manifest of an index of `format`. */
  def standingTombstones(spark: SparkSession, format: String, path: String,
      idCol: String): Option[DataFrame] =
    loadTombstones(spark, path, requireManifest(spark, path, format), idCol)

  /** An empty id set typed by frame `name`'s `idCol` — the tombstone set
    * of a pure composition fold. */
  def emptyIds(spark: SparkSession, m: Map[String, String], name: String,
      idCol: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(frameSchema(m, name)(idCol))))

  /** Run `body` over `ids` made distinct and PINNED with one
    * [[Checkpoints.ckptLocal]]: a tombstone set feeds several
    * anti-joins and an affected-partition discovery, and it is
    * delta-sized. Freed even when `body` throws, so a staging that
    * fails leaks no 2x-replicated blocks. */
  private[graft] def withPinnedIds[T](ids: Option[DataFrame])
      (body: Option[DataFrame] => T): T = {
    val pinned = ids.map(t => Checkpoints.ckptLocal(t.distinct()))
    try body(pinned) finally pinned.foreach(Checkpoints.free)
  }

  /** One frame a tombstone compaction stages, partitioned by `partCol`:
    * pruned to the affected partitions ([[stageCompactFrame]]) or, when
    * `whole`, rewritten entirely ([[stageRewriteFrame]] — the MinHash
    * `bands` frame, whose `band` partitioning says nothing about ids). */
  private[graft] final case class CompactedFrame(name: String,
      partCol: String, whole: Boolean = false)

  /** What the shared tombstone compaction needs to know about one index
    * family: its manifest `format`, the frames a given manifest stages
    * (IVF stages `fp` only when quantized; frames not listed — IVF
    * `centroids` and `codebook` — carry through the flip unchanged),
    * and the discovery of the partitions the pinned tombstone ids
    * (`tomb`, column `idCol`) touch. */
  private[graft] final case class IndexFamily(format: String,
      frames: Map[String, String] => Seq[CompactedFrame],
      affected: (SparkSession, String, Map[String, String], DataFrame, String)
        => Seq[Any])

  /** Physically remove tombstoned rows and clear the tombstones — the
    * compaction closing [[deleteIds]]' merge-on-read lifecycle, for
    * every family `fam` describes. Cost is PRUNED where the layout
    * allows: only partitions the tombstoned ids touch are read,
    * anti-joined and rewritten into the next generation (plus every
    * partition split across entries or living under a batch root —
    * [[stageCompactFrame]]'s fold); untouched partitions are never
    * read, listed or moved. The frames stage concurrently
    * ([[inParallel]]): disjoint new-generation roots from one fixed
    * manifest and one pinned tombstone set.
    *
    * With no standing tombstones it commits nothing and deletes
    * nothing — unless `fold`, which runs the same compaction over an
    * empty tombstone set: the append-only lifecycle's composition fold
    * (batch roots consolidate, entries return to ≤ partitions + 1 per
    * frame). Readers stay lock-free and kill-safety is
    * [[flipGeneration]]'s. */
  private[graft] def compactTombstones(spark: SparkSession, path: String,
      fam: IndexFamily, idCol: String, fold: Boolean): Unit =
    flipGeneration(spark, path, fam.format) { m =>
      val standing = loadTombstones(spark, path, m, idCol)
      if (standing.isEmpty && !fold) None
      else Some { newGen =>
        withPinnedIds(standing) { pinned =>
          val frames = fam.frames(m)
          val tomb = pinned.getOrElse(emptyIds(spark, m, frames.head.name, idCol))
          val affected = fam.affected(spark, path, m, tomb, idCol)
          val staged = inParallel(frames.map { f => () =>
            f.name -> (
              if (f.whole) stageRewriteFrame(spark, path, m, f.name,
                f.partCol, tomb, idCol, newGen)
              else stageCompactFrame(spark, path, m, f.name, f.partCol,
                affected, tomb, idCol, newGen))
          })
          GenerationStage(staged.toMap, resolvesTombstones = true)
        }
      }
    }

  /** The autopilots' dead-row count: standing tombstones that STRIKE a
    * row of `rows` (a per-doc frame), semi-join counted against the
    * broadcast distinct tombstone set — returned too, for the caller's
    * own anti-joins. A raw tombstone count would not do: an idempotent
    * takedown pipeline re-submitting its cumulative delete list
    * re-appends ids a past compaction already removed (and may name
    * ids never indexed), and counting those as backlog would fire a
    * compaction every night against zero dead rows. */
  def deadRows(spark: SparkSession, path: String, m: Map[String, String],
      rows: DataFrame, idCol: String): (Long, Option[DataFrame]) = {
    val tomb = loadTombstones(spark, path, m, idCol)
      .map(t => org.apache.spark.sql.functions.broadcast(t.distinct()))
    (tomb.map(t => rows.select(col(idCol)).join(t, Seq(idCol), "left_semi")
      .count()).getOrElse(0L), tomb)
  }

  /** One frame's health line in an [[describeIndex]] report. */
  final case class FrameInfo(name: String, nEntries: Int)

  /** x34 — the read-only DIFF between two manifest commits: what a
    * maintenance window actually did, reconstructed from the retained
    * `_manifest-N.json` files ALONE (no data files read, no lease —
    * the describeIndex discipline). Returns (genDelta, seqDelta,
    * per-frame (name, entriesAdded, entriesRemoved) sorted by name,
    * changed layout-parameter keys sorted): an append shows up as one
    * added batch-root entry per staged frame, a delete as one added
    * tombstone batch, a compaction as a generation bump with the
    * folded entries removed and one new root added, and a
    * re-parameterization (rebucket/retrain) as a changed `buckets` /
    * `nList` — the audit trail the monotonic commit log makes
    * reconstructible, the same way `asOfSeq` makes it re-servable. */
  def diffManifests(mA: Map[String, String], mB: Map[String, String])
      : (Long, Long, Seq[(String, Long, Long)], Seq[String]) = {
    val genDelta = mA.get("gen").zip(mB.get("gen"))
      .map { case (a, b) => b.toLong - a.toLong }.getOrElse(0L)
    val seqDelta = (seqOf(mB) - seqOf(mA)).toLong
    val frames = (mA.keys ++ mB.keys).filter(_.startsWith("frames."))
      .map(_.stripPrefix("frames.")).toSeq.distinct.sorted
    val perFrame = frames.map { f =>
      val ea = frameEntries(mA, f).toSet
      val eb = frameEntries(mB, f).toSet
      (f, (eb -- ea).size.toLong, (ea -- eb).size.toLong)
    }
    val bookkeeping = Set("gen", "seq", "retired", "retiredAt", "trainOcc")
    val changed = (mA.keys ++ mB.keys).toSeq.distinct
      .filterNot(k => k.startsWith("frames.") || k.startsWith("schema.") ||
        bookkeeping(k))
      .filter(k => mA.get(k) != mB.get(k)).sorted
    (genDelta, seqDelta, perFrame, changed)
  }

  /** x31 — the read-only ops DESCRIBE of a persisted index, for either
    * family: everything an operator's dashboard needs to schedule
    * maintenance, from the manifest and ONE delta-sized scan. The
    * on-call questions it answers: is the tombstone backlog big enough
    * to warrant a compaction (`nTombstones` — the only field that
    * costs a read, of the delta-sized tombstone frame only; the
    * corpus-scale frames are never touched — an UPPER BOUND on the
    * dead rows the autopilots act on: the autopilots count tombstones
    * that STRIKE an indexed row via a semi-join against the doc frame,
    * while this dashboard field counts distinct tombstone ids, so a
    * re-submitted cumulative delete list after a compaction inflates
    * this number with ids that strike nothing — the per-doc-frame scan
    * that would tighten it is exactly the corpus-scale read this verb
    * promises not to do)? Is a maintenance writer
    * live (`leaseHeld` — a TTL-expired lease of a crashed writer reads
    * as free)? How fragmented is the read path (`frames` entry counts
    * vs the ≤ partitions + 1 bound the compaction fold restores)? Are
    * retired dirs awaiting their grace (`nRetired`)? Plus the identity
    * card every foreign binary checks first: format, schemaVersion,
    * generation, and the stored layout parameters.
    *
    * Read-only and lock-free like the serves: it resolves the manifest
    * once and never takes the lease, so describing a live index during
    * a compaction is safe (it reports the pre- or post-flip state,
    * never a torn mix). */
  def describeIndex(spark: SparkSession, path: String)
      : (Map[String, String], Seq[FrameInfo], Long, Boolean, Int) = {
    val m = readManifest(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no $ManifestFile: not a persisted index of this layout"))
    val frames = m.keys.filter(_.startsWith("frames.")).toSeq.sorted
      .map { k =>
        val name = k.stripPrefix("frames.")
        FrameInfo(name, frameEntries(m, name).size)
      }
    // DISTINCT ids, not raw rows: the same id deleted by two separate
    // delete calls leaves two tombstone rows (appendTombstones dedups
    // per call only) — a raw count would disagree with the autopilots'
    // policy read and over-report the backlog to the operator
    val nTomb =
      if (m.contains("frames.tombstones"))
        readFrameGroups(spark, path, m, "tombstones")
          .reduceOption(_.union(_)).map(_.distinct().count()).getOrElse(0L)
      else 0L
    val held = readLease(IndexFs.fs(spark, path), path, DefaultLeaseTtlMs)
      .exists { case (_, at, ttl) =>
        System.currentTimeMillis() - at < ttl }
    (m, frames, nTomb, held, retiredWithTimestamps(m).size)
  }
}
