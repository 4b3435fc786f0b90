package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A PERSISTED STORE for mergeable sketch rows — the third family on
  * the [[IndexLayout]] manifest/generation machinery (MinHash dedup,
  * IVF vectors, and now pre-aggregated summaries).
  *
  * Why it exists: the mergeable-summary pipelines (HLL distinct,
  * bottom-k/theta sets, q-digest quantiles) all advertise the same
  * production shape — "persist one tiny sketch row per day/segment;
  * serve any rollup from the stored rows, the events rescanned never"
  * — but until this store the 'persisted' rows were computed in-query
  * and merged in the same plan, so the O(days)-at-serve-time claim was
  * demonstrated at the plan level only. This store makes it literal:
  * [[save]] writes the daily rows under a manifest-governed layout,
  * [[appendDays]] lands each new day as a manifest-committed batch
  * (one atomic `_manifest-N.json` splice — the exact machinery index
  * appends use, kill-safe and replay-idempotent), and [[readRange]]
  * serves a date-range scan that reads ONLY the stored frames — the
  * serve plan contains no scan of the event data, which is what the
  * g38 plan spec pins.
  *
  * The store is SCHEMA-AGNOSTIC: it persists whatever sketch columns
  * the daily rows carry (array<bigint> bottom-k sketches, binary HLL
  * registers, struct q-digests — all parquet-storable), records the
  * frame schema in the manifest like every frame of this layout, and
  * tags the payload with a caller-declared `kind` so a serve pointed
  * at the wrong store fails loudly instead of merging foreign bytes.
  * Day values partition the frame (partition pruning makes a
  * week-out-of-a-year serve read 7 directories, not 365), so they
  * must be comma-free strings — `yyyy-MM-dd` is the convention.
  *
  * Scale story: a day's sketch row set is segments-bounded (KBs
  * regardless of event volume), so the store's total size is
  * O(days × segments × k) — the whole point; compaction pressure is
  * therefore composition-length, not data-size, and [[fold]] (the
  * autopilots' composition-length discipline) consolidates the
  * accumulated day-append batch roots back into one generation root.
  */
object SketchStore {

  val SketchStoreFormat = "graft-sketch-store"

  /** Build the store from scratch: persist `daily` (one row per
    * day×segment, carrying the sketch payload) partitioned by
    * `dayCol`, commit manifest seq 0. `kind` names the sketch family
    * (e.g. "theta-user-daily") — every later verb validates it. */
  def save(daily: DataFrame, path: String, kind: String,
      dayCol: String = "day"): Unit = {
    val spark = daily.sparkSession
    IndexFs.delete(spark, path)
    daily.repartition(col(dayCol)).write.partitionBy(dayCol)
      .parquet(IndexLayout.genRoot(path, "sketches", 0))
    IndexLayout.writeManifest(spark, path, IndexLayout.newManifest(
      SketchStoreFormat,
      Map("kind" -> kind, "dayCol" -> dayCol),
      Map("sketches" -> daily.schema)))
  }

  /** The store's manifest, validated for format and `kind` — the gate
    * every serve and maintenance verb passes through. */
  private def requireStore(spark: SparkSession, path: String,
      kind: String): Map[String, String] =
    validateKind(
      IndexLayout.requireManifest(spark, path, SketchStoreFormat), path, kind)

  private def validateKind(m: Map[String, String], path: String,
      kind: String): Map[String, String] = {
    val got = IndexLayout.param(m, path, "kind")
    if (got != kind) throw new IllegalStateException(
      s"$path stores '$got' sketches, not '$kind': merging foreign " +
        "sketch bytes would be silently wrong — refusing")
    m
  }

  /** Append new days' sketch rows incrementally — one MANIFEST-
    * COMMITTED batch ([[IndexLayout.stageAppendBatch]] +
    * [[IndexLayout.commitAppend]]): staged rows are invisible until
    * the single manifest splice, a killed append leaves only an
    * unreferenced batch root (swept at the next fold), and a replay
    * overwrites the same deterministic root. Leased like every
    * maintenance verb of the layout. */
  def appendDays(days: DataFrame, path: String, kind: String): Unit = {
    val spark = days.sparkSession
    IndexLayout.withMaintenanceLease(spark, path) { _ =>
      val m = requireStore(spark, path, kind)
      val dayCol = IndexLayout.param(m, path, "dayCol")
      IndexLayout.stageAppendBatch(spark, path, "sketches",
        s"a${IndexLayout.seqOf(m) + 1}", days, Some(dayCol))
        .foreach(e =>
          IndexLayout.commitAppend(spark, path, m, Map("sketches" -> e)))
    }
  }

  /** SERVE: the stored sketch rows with `fromDay <= day <= toDay` —
    * resolved entirely from the manifest composition, so the returned
    * plan scans ONLY the store's own parquet (never the events), and
    * the day filter prunes to the range's partition directories. The
    * caller merges the rows with the family's merge aggregator — the
    * serve-side cost is O(days-in-range × segments) tiny rows. */
  def readRange(spark: SparkSession, path: String, kind: String,
      fromDay: String, toDay: String): DataFrame = {
    val m = requireStore(spark, path, kind)
    val dayCol = IndexLayout.param(m, path, "dayCol")
    IndexLayout.readFrame(spark, path, m, "sketches")
      .filter(col(dayCol) >= fromDay && col(dayCol) <= toDay)
  }

  /** All stored rows (no day bound) — [[readRange]] without a range. */
  def readAll(spark: SparkSession, path: String, kind: String): DataFrame = {
    val m = requireStore(spark, path, kind)
    IndexLayout.readFrame(spark, path, m, "sketches")
  }

  /** AS-OF serve: [[readRange]] pinned at retained manifest commit
    * `seq` — every store verb is one monotonic manifest commit, so the
    * frames a historical manifest references are immutable until aged
    * out by the per-index `manifestKeep` window (the x33/v26 machinery
    * verbatim). A serve pinned before a day's append does not see that
    * day; a serve pinned before a retention drop still sees the
    * dropped days (their retired directories survive the grace
    * window). Same format/kind gates as the head serve. */
  def readRangeAt(spark: SparkSession, path: String, kind: String,
      fromDay: String, toDay: String, seq: Int): DataFrame = {
    val m = validateKind(IndexLayout.requireManifestAt(
      spark, path, SketchStoreFormat, seq), path, kind)
    val dayCol = IndexLayout.param(m, path, "dayCol")
    IndexLayout.readFrame(spark, path, m, "sketches")
      .filter(col(dayCol) >= fromDay && col(dayCol) <= toDay)
  }

  /** RETENTION: drop every stored day STRICTLY BEFORE `minDay` — the
    * horizon verb of a store appended forever (a 90-day rolling
    * window keeps the store O(horizon × segments) regardless of age).
    * Tombstone-free by construction: whole day partitions leave the
    * composition at a compaction flip — the dropped days' partition
    * directories retire (nothing survives the anti-join, so nothing is
    * staged for them), surviving days carry forward untouched, and the
    * committed batch roots fold into the new generation as every
    * compaction of this layout does. The dropped-day set is O(days)
    * driver-side by nature (it parameterizes the partition retire
    * list). Historical manifests still inside `manifestKeep` continue
    * to serve the dropped days until the retired-directory grace
    * window ([[IndexLayout.RetiredGraceConfKey]]) lapses. */
  def retainFrom(spark: SparkSession, path: String, kind: String,
      minDay: String): Unit =
    compact(spark, path, kind) { (m, dayCol) =>
      IndexLayout.readFrame(spark, path, m, "sketches")
        .filter(col(dayCol) < minDay).select(dayCol).distinct()
    }

  /** FOLD the composition (the autopilots' composition-length
    * discipline, [[graft.ext.Dedup.foldMinhashComposition]]'s shape):
    * a store appended daily accumulates one batch root per committed
    * day, and every serve unions one more scan until this consolidates
    * them into the next generation — entries return to
    * ≤ days + 1. No tombstones exist in this family, so the compaction
    * is always the pure fold (an empty anti-join set on `dayCol`). */
  def fold(spark: SparkSession, path: String, kind: String): Unit =
    compact(spark, path, kind) { (m, dayCol) =>
      IndexLayout.emptyIds(spark, m, "sketches", dayCol)
    }

  /** The store's one compaction ([[IndexLayout.flipGeneration]]): the
    * day partitions `doomed` lists (one `dayCol` column) retire whole,
    * nothing of them is staged, and the committed batch roots fold into
    * the new generation. */
  private def compact(spark: SparkSession, path: String, kind: String)
      (doomed: (Map[String, String], String) => DataFrame): Unit =
    IndexLayout.flipGeneration(spark, path, SketchStoreFormat) { m =>
      val dayCol = IndexLayout.param(validateKind(m, path, kind), path, "dayCol")
      Some { newGen =>
        val tomb = doomed(m, dayCol)
        val dropped: Seq[Any] = tomb.collect().map(_.get(0)).toSeq
        IndexLayout.GenerationStage(Map("sketches" ->
          IndexLayout.stageCompactFrame(spark, path, m, "sketches", dayCol,
            dropped, tomb, dayCol, newGen)))
      }
    }
}
