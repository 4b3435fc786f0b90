package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The column bindings of one viewing-ETL deployment: everything that
  * differs between the reference's native log schema
  * ([[ReferenceEtl]]: Contract/AppName/Mac/TotalDuration, string `'0'`
  * sentinel) and the oracle-testdata events mapping ([[Viewing]]:
  * user_id/event_type/props/value-cents, integer 0 sentinel). The
  * OPERATOR logic — E1's first-match-wins when-chain, P3+P4's
  * valid-row filter, A1's partial-aggregated category sums, A2's
  * faithful row-count "devices", A3+E9's explicit-values pivot, and
  * the §3.2 flagship composition — lives once, in [[ViewingCore]],
  * and both deployments are bindings of it.
  *
  * @param idCol     the grouping entity (Contract / user_id)
  * @param deviceCol the device column A2 faithfully projects-but-never-
  *                  aggregates (Mac / props)
  * @param appCol    the E1 input column (AppName / event_type)
  * @param measure   the duration measure expression — exact integer
  *                  arithmetic required (raw seconds / value cents)
  * @param measureName output name of the aggregated measure
  * @param validId   P3's sentinel predicate on `idCol` — the reference
  *                  compares the STRING `'0'`, the events mapping the
  *                  integer 0; both are "is not the invalid sentinel"
  * @param mapping   E1's (codes → category) arms, IN ORDER — the
  *                  when-chain is first-match-wins and case-sensitive
  *                  (KPLUS and KPlus are distinct arms of the same
  *                  code list), so order and case are semantics
  * @param categories pivot column order (explicit values: static
  *                  schema, no hidden distinct job)
  * @param catLabels category → label pairs in when-chain order — also
  *                  E5's tie-break order (Child→…→TV), so this ONE
  *                  sequence carries both the label map and the
  *                  argmax preference
  */
final case class ViewingSchema(
    idCol: String,
    deviceCol: String,
    appCol: String,
    measure: Column,
    measureName: String,
    validId: Column => Column,
    mapping: Seq[(Seq[String], String)],
    categories: Seq[String],
    catLabels: Seq[(String, String)])

/** The one implementation of the reference's viewing-ETL operators,
  * parameterized by [[ViewingSchema]] (see SURVEY.md §2; reference
  * lines cited on each op in [[ReferenceEtl]]). Factored so the
  * mapping lists, sentinel compares, and tie-break order exist in
  * exactly one place per deployment and the operator logic in exactly
  * one place total. */
object ViewingCore {

  /** E1 — first-match-wins category when-chain, sentinel "Error". */
  def categorize(s: ViewingSchema)(df: DataFrame): DataFrame = {
    val head = when(col(s.appCol).isin(s.mapping.head._1: _*), s.mapping.head._2)
    val chain = s.mapping.tail.foldLeft(head) { case (acc, (codes, cat)) =>
      acc.when(col(s.appCol).isin(codes: _*), cat)
    }
    df.withColumn("Type", chain.otherwise("Error"))
  }

  /** P3+P4 — drop the invalid-id sentinel and unmapped categories. */
  def validRows(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.filter(s.validId(col(s.idCol))).filter(col("Type") =!= "Error")

  /** A1 — measure per (id, category). Spark plans this as partial
    * (map-side) + final hash aggregate: the shuffle moves one row per
    * (id, category) per partition, not raw events — the property that
    * keeps it viable at 100 TB. */
  def durationByCategory(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.select(col(s.idCol), col("Type"), s.measure.as(s.measureName))
      .groupBy(s.idCol, "Type")
      .agg(sum(s.measureName).as(s.measureName))

  /** A2 faithful — counts LOG ROWS pre-filter (the reference selects
    * the device column but never aggregates it, so "TotalDevices" is
    * really a row count, Error rows included). `projectDevice` keeps
    * the reference's no-op (id, device) projection for fidelity;
    * Catalyst's column pruning makes it costless either way. */
  def deviceCountsFaithful(s: ViewingSchema, projectDevice: Boolean = true)(
      df: DataFrame): DataFrame = {
    val base = if (projectDevice) df.select(s.idCol, s.deviceCol) else df
    base.groupBy(s.idCol).count().withColumnRenamed("count", "TotalDevices")
  }

  /** A2 fixed — the intended semantics: distinct devices. One
    * (id, device) shuffle. */
  def deviceCountsDistinct(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.groupBy(s.idCol).agg(countDistinct(s.deviceCol).as("TotalDevices"))

  /** A3+E9 — explicit-values pivot (+ optional zero-fill). */
  def pivotDurations(s: ViewingSchema, fillZero: Boolean = true)(
      df: DataFrame): DataFrame = {
    val wide = df.groupBy(s.idCol).pivot("Type", s.categories).sum(s.measureName)
    if (fillZero) wide.na.fill(0) else wide
  }

  /** Mergeable per-id aggregation STATE of the §3.2 flagship: one
    * conditional aggregation over the categorized rows that carries
    * every pivot cell (the valid-row measure sum per category) plus
    * the faithful A2 row count (`TotalDevices`, Error rows included)
    * and the valid-row count `n_valid`. Every cell is an associative
    * sum/count, so states over disjoint slices merge exactly via
    * [[mergeProfileStates]] — aggregate only the new day, merge with
    * yesterday's per-id state, finalize; no history rescan. */
  def profileState(s: ViewingSchema)(df: DataFrame): DataFrame = {
    val valid = s.validId(col(s.idCol)) && col("Type") =!= "Error"
    val catSums = s.categories.map(c => coalesce(
      sum(when(valid && col("Type") === c, col(s.measureName))), lit(0L)).as(c))
    categorize(s)(df)
      .select(col(s.idCol), col("Type"), s.measure.as(s.measureName))
      .groupBy(s.idCol).agg(
        catSums.head,
        catSums.tail :+ count(lit(1)).as("TotalDevices")
          :+ count(when(valid, lit(1))).as("n_valid"): _*)
  }

  /** Merge two disjoint-slice states: per-id cell-wise sums. */
  def mergeProfileStates(s: ViewingSchema)(a: DataFrame, b: DataFrame): DataFrame = {
    val cells = s.categories ++ Seq("TotalDevices", "n_valid")
    a.unionByName(b).groupBy(s.idCol)
      .agg(sum(cells.head).as(cells.head), cells.tail.map(c => sum(c).as(c)): _*)
  }

  /** Finalize a state into the flagship output: keep the ids with at
    * least one valid row (the faithful shape's inner-join semantics),
    * then the E4–E7 enrichment chain. */
  def profileFinalize(s: ViewingSchema)(state: DataFrame): DataFrame =
    enrich(s)(state.filter(col("n_valid") > 0)
      .select((s.idCol +: s.categories :+ "TotalDevices").map(col): _*))

  /** §3.2 flagship, single pass: [[profileFinalize]] of [[profileState]]
    * — one scan, one shuffle, no join. Row-for-row the output of
    * [[fullPipelineTwoBranch]], the reference's own shape:
    *  - `TotalDevices` counts every row of the id, Error rows included,
    *    exactly as the pre-filter device branch does;
    *  - an id survives iff it has ≥1 valid row, which is when the
    *    category branch emits it and the inner join keeps it (the
    *    invalid-id sentinel and a null id never do: the sentinel
    *    predicate is false or null on them);
    *  - a category with no valid row sums to null → 0, as `na.fill(0)`;
    *  - columns come out as id, categories, `TotalDevices`, enrichment.
    * The two-branch form scans its input twice — once per branch, since
    * the shared scan sits below two different aggregations — so on the
    * reference's JSONL day files this halves the parse. */
  def fullPipeline(s: ViewingSchema)(df: DataFrame): DataFrame =
    profileFinalize(s)(profileState(s)(df))

  /** §3.2 flagship in the reference's own shape
    * (`ETL_full.py:74-90`): two aggregate branches over one input
    * (pre-filter device counts + valid-row category pivot),
    * re-converging in J1, then the E4–E7 enrichment chain. Kept as the
    * reference-fidelity exhibit that [[fullPipeline]] is checked
    * against; it plans two scans and a join. */
  def fullPipelineTwoBranch(s: ViewingSchema)(df: DataFrame): DataFrame = {
    // projectDevice = false: the (id, device) projection is a no-op
    // under column pruning, and skipping it keeps the pipeline usable
    // on frames that carry no device column at all (the reference's
    // own OLAP stage never reads it either)
    val devices = deviceCountsFaithful(s, projectDevice = false)(df)
    val stats =
      pivotDurations(s)(durationByCategory(s)(validRows(s)(categorize(s)(df))))
    enrich(s)(stats.join(devices, Seq(s.idCol), "inner"))
  }

  /** E4–E7 — most-watched label, taste string, activity level. */
  private def enrich(s: ViewingSchema)(df: DataFrame): DataFrame =
    Enrich.activityLevel(s.categories)(
      Enrich.taste(s.catLabels)(Enrich.mostWatch(s.catLabels)(df)))
}
