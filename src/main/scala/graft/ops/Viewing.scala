package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference viewing-behavior operators (SURVEY.md §2) re-targeted at
  * the oracle testdata's `events` table (FIXTURES.md §2 mapping:
  * user_id→Contract, event_type→AppName, value→TotalDuration).
  *
  * `event_type='error'` plays the unmapped-AppName "Error" sentinel and
  * `user_id=0` plays the `'0'` invalid-contract sentinel, so the P3/P4
  * filter semantics carry over exactly.
  *
  * All monetary/duration aggregates run on an integer-cents projection of
  * the 2-decimal `value` column: exact associative Long arithmetic, so
  * results are bit-stable under any partitioning / aggregation order —
  * required by the hash-compare oracle, and the right call at 100 TB
  * where float-sum ordering is nondeterministic by construction.
  */
object Viewing {

  /** Pivot column order — fixed, alphabetical (explicit values: static
    * schema, no hidden distinct job — SURVEY.md §7.4). */
  val categories: Seq[String] =
    Seq("ClickDuration", "PurchaseDuration", "SignupDuration", "ViewDuration")

  /** Category → label, when-chain order; reuses the reference's
    * UTF-8 Vietnamese labels (`ETL_full_output/ETL_full.py:101-106`) so
    * label fidelity through parquet/oracle round-trips stays exercised. */
  val catLabels: Seq[(String, String)] = Seq(
    "ClickDuration" -> "Giải trí",
    "PurchaseDuration" -> "Phim truyện",
    "SignupDuration" -> "Thể thao",
    "ViewDuration" -> "Truyền hình")

  /** Exact integer cents of the 2-decimal `value` column. */
  def cents: Column = round(col("value") * 100).cast("long")

  /** This deployment's binding of the ONE viewing-ETL implementation
    * ([[ViewingCore]]): events-table columns, integer-0 sentinel,
    * cents measure, the 4-category mapping above. The operator logic
    * (when-chain shape, filters, aggregation/pivot/join composition)
    * is shared with [[ReferenceEtl.schema]] — only these bindings
    * differ. */
  val schema: ViewingSchema = ViewingSchema(
    idCol = "user_id",
    deviceCol = "props",
    appCol = "event_type",
    measure = cents,
    measureName = "value_cents",
    validId = _ =!= 0,
    mapping = Seq(
      Seq("view", "impression") -> "ViewDuration",
      Seq("click", "tap") -> "ClickDuration",
      Seq("purchase") -> "PurchaseDuration",
      Seq("signup") -> "SignupDuration"),
    categories = categories,
    catLabels = catLabels)

  /** E1 analog (`ETL_full_output/ETL_full.py:47-56`): first-match-wins
    * when-chain over event_type; unmapped (incl. 'error') → "Error". */
  def categorize(df: DataFrame): DataFrame = ViewingCore.categorize(schema)(df)

  /** P3+P4 analog (`ETL_full_output/ETL_full.py:59-60`). */
  def validRows(df: DataFrame): DataFrame = ViewingCore.validRows(schema)(df)

  /** A1 — cents per (user, category) (`ETL_full_output/ETL_full.py:61`);
    * partial-aggregated, see [[ViewingCore.durationByCategory]]. */
  def durationByCategory(df: DataFrame): DataFrame =
    ViewingCore.durationByCategory(schema)(df)

  /** A2 faithful (`ETL_full_output/ETL_full.py:42-45`): counts LOG ROWS
    * pre-filter (includes Error rows), not distinct devices. (The
    * reference's no-op `select(Contract, Mac)` projection is dropped
    * here — Catalyst's column pruning makes it meaningless; the faithful
    * form survives in ReferenceEtl.deviceCounts.) */
  def deviceCounts(df: DataFrame): DataFrame =
    ViewingCore.deviceCountsFaithful(schema, projectDevice = false)(df)

  /** A2 fixed: the intended semantics — distinct devices (`props` plays
    * the Mac column). countDistinct shuffles (user, props) pairs once. */
  def deviceCountsDistinct(df: DataFrame): DataFrame =
    ViewingCore.deviceCountsDistinct(schema)(df)

  /** A3+E9 (`ETL_full_output/ETL_full.py:63`): explicit-values pivot +
    * zero-fill. */
  def pivotDurations(df: DataFrame, fillZero: Boolean = true): DataFrame =
    ViewingCore.pivotDurations(schema, fillZero)(df)

  /** §3.2 flagship in the reference's two-branch shape (two aggregate
    * branches, re-converging in J1, then E4–E7 enrichment) — the
    * reference-fidelity exhibit behind the `flagship_profile` query;
    * see [[ViewingCore.fullPipelineTwoBranch]]. */
  def fullPipeline(events: DataFrame): DataFrame =
    ViewingCore.fullPipelineTwoBranch(schema)(events)

  /** Single-pass flagship: same output as [[fullPipeline]], one scan,
    * one shuffle, no join — see [[ViewingCore.fullPipeline]] for the
    * equivalence argument. Checked against the same oracle SQL as the
    * two-branch query. */
  def fullPipelineFast(events: DataFrame): DataFrame = ViewingCore.fullPipeline(schema)(events)

  /** Mergeable per-user flagship state; see [[ViewingCore.profileState]]. */
  def profileState(events: DataFrame): DataFrame = ViewingCore.profileState(schema)(events)

  /** Merge two disjoint-slice states; see [[ViewingCore.mergeProfileStates]]. */
  def mergeProfileStates(a: DataFrame, b: DataFrame): DataFrame =
    ViewingCore.mergeProfileStates(schema)(a, b)

  /** Finalize a state; see [[ViewingCore.profileFinalize]]. */
  def profileFinalize(state: DataFrame): DataFrame = ViewingCore.profileFinalize(schema)(state)

  /** Incremental flagship: state over the history slice merged with
    * state over the new slice, finalized — hash-identical to the
    * single-pass [[fullPipelineFast]] (same oracle) because every state
    * cell is associative. `splitDate` models the history/new-day cut. */
  def incrementalProfile(events: DataFrame, splitDate: String): DataFrame = {
    // null ts satisfies neither <= nor > — route it to the history slice
    // explicitly so every row lands in exactly one slice (the single-pass
    // flagship counts null-ts rows; dropping them would break the
    // hash-identity this function promises)
    val history = events.filter(
      to_date(col("ts")) <= lit(splitDate) || col("ts").isNull)
    val fresh = events.filter(to_date(col("ts")) > lit(splitDate))
    profileFinalize(mergeProfileStates(profileState(history), profileState(fresh)))
  }

  /** §3.1 one-day analog: filter to one calendar day, pivot WITHOUT
    * zero-fill (faithful nulls), add the literal Date column (E8). */
  def oneDayPipeline(events: DataFrame, date: String): DataFrame =
    pivotDurations(
      durationByCategory(validRows(categorize(
        events.filter(to_date(col("ts")) === lit(date))))),
      fillZero = false)
      .withColumn("Date", lit(date))

  /** U1 analog (method 2, `test_method2_eachFILE.py:116-133`): per-day
    * aggregate + union. Kept for parity/benchmark comparison; the single
    * multi-day scan (method 1) is the strategy to actually use at scale. */
  def unionDays(events: DataFrame, dates: Seq[String]): DataFrame =
    dates.map { d =>
      durationByCategory(validRows(categorize(
        events.filter(to_date(col("ts")) === lit(d)))))
        .withColumn("Date", lit(d))
    }.reduce(_.unionByName(_))
}
