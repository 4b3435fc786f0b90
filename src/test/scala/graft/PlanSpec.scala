package graft

import graft.analytics.Pipelines

/** Physical-plan assertions — the scale properties the engine promises,
  * pinned so a regression (lost pushdown, join strategy flip, extra
  * shuffle) fails CI instead of silently degrading 100 TB plans.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("g1: shipdate filter is pushed into the parquet scan") {
    val p = plan(Pipelines.pricingSummary(spark, sf()))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("g1: scan schema is pruned to the used columns") {
    val p = plan(Pipelines.pricingSummary(spark, sf()))
    assert(p.contains("FileScan parquet [l_quantity#"), p)  // pruned column list
    assert(!p.contains("l_orderkey"), "unused column not pruned from scan")
    assert(!p.contains("l_partkey"), "unused column not pruned from scan")
  }

  test("g2: every dimension join is broadcast, none sort-merge") {
    val p = plan(Pipelines.revenueByNation(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") == 5, p)
  }

  test("g26: part join is broadcast and aggregation is partial (map-side)") {
    val p = plan(Pipelines.promoRevenue(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)   // the fact side never shuffles for the join
    assert(p.contains("partial_sum"), p)      // map-side combine before the one shuffle
  }

  test("g2/g26: scaling-dimension broadcasts are size-gated, not forced") {
    // With auto-broadcast disabled, the scaling dimensions (customer/
    // supplier/part) MUST fall back to a shuffled join — a forced
    // broadcast() hint would keep broadcasting (and OOM the driver at
    // the 100 TB tier, with AQE forbidden from saving the plan). The
    // fixed-size dims (nation/region, 25/5 rows at every SF) stay
    // hinted-broadcast even here — they cannot outgrow a broadcast.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p2 = plan(Pipelines.revenueByNation(spark, sf()))
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        s"customer/supplier joins did not fall back when broadcast is off:\n$p2")
      assert(p2.contains("BroadcastHashJoin"),
        s"fixed-size nation/region should stay broadcast (explicit hint):\n$p2")
      val p26 = plan(Pipelines.promoRevenue(spark, sf()))
      assert(p26.contains("SortMergeJoin") || p26.contains("ShuffledHashJoin"),
        s"part join did not fall back when broadcast is off:\n$p26")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("flagship fast plan has exactly one shuffle exchange") {
    val p = plan(Pipelines.flagshipProfileFast(spark, sf()))
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected 1 shuffle, plan:\n$p")
  }

  test("incremental flagship merge adds no exchange beyond the two slice states") {
    val p = plan(Pipelines.incrementalProfile(spark, sf()))
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    // one shuffle per slice state; the union is already hash-partitioned
    // on user_id so the merge aggregation reuses it — co-partitioned merge
    assert(shuffles == 2, s"expected 2 shuffles, plan:\n$p")
  }

  test("faithful flagship plan has more shuffles than the fast variant") {
    val p = plan(Pipelines.flagshipProfile(spark, sf()))
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles >= 2, s"expected >=2 shuffles, plan:\n$p")
  }

  test("reference runFull: one JSON scan, one shuffle, no join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-days")
    for (day <- Seq("20220401", "20220402", "20220403")) {
      val lines = Seq("C1" -> "VOD", "C2" -> "KPLUS", "0" -> "SPORT", "C1" -> "JUNK")
        .zipWithIndex.map { case ((c, app), i) =>
          s"""{"_index":"history","_type":"x","_id":"$day-$i","_score":0,""" +
            s""""_source":{"Contract":"$c","Mac":"M$i","TotalDuration":${10 + i},"AppName":"$app"}}"""
        }
      java.nio.file.Files.write(dir.resolve(s"$day.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val p = plan(graft.ops.ReferenceEtl.runFull(spark, dir.toString, "20220401", "20220403"))
    def occurrences(s: String) = p.sliding(s.length).count(_ == s)
    assert(occurrences("FileScan json") == 1, s"expected one JSON scan, plan:\n$p")
    assert(occurrences("Exchange hashpartitioning") == 1, s"expected 1 shuffle, plan:\n$p")
    assert(!p.contains("Join"), s"expected no join, plan:\n$p")
  }

  test("g20: bucketed agg+join plan has zero shuffle exchanges") {
    // both the groupBy key and the join key are the bucket key: the
    // storage is already hash-partitioned 8-ways on it, so the whole
    // plan must run exchange-free even with broadcast disabled
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.ops.Bucketed.orderLineStats(spark, sf()))
      assert(!p.contains("Exchange"), s"expected zero exchanges:\n$p")
      assert(p.contains("Join"), p)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("SHOW TABLES").collect().map(_.getString(1))
        .filter(_.startsWith("orders_bkt")).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.sql("SHOW TABLES").collect().map(_.getString(1))
        .filter(_.startsWith("lineitem_bkt")).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse"))
    }
  }

  test("g22: range join plans as an equi-join, not nested-loop/cartesian") {
    val p = plan(Pipelines.attributionRangeJoin(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p) // some hash/sort-merge equi-join on (key, bin)
  }

  test("t2/t9: pure expression pipelines stay in one codegen stage, no shuffle") {
    for (q <- Seq("t2_quality_signals", "t9_redact_pii")) {
      val p = plan(SparkEntry.queries(q)(spark, sf()))
      // "*(n) " prefixes mark whole-stage-codegen'd operators
      assert(p.contains("*(1)"), s"$q lost codegen:\n$p")
      assert(!p.contains("Exchange"), s"$q gained a shuffle:\n$p")
    }
  }

  test("g24: all window functions share one Window operator and one shuffle") {
    val p = plan(Pipelines.windowAnalytics(spark, sf()))
    assert(p.sliding("Window".length).count(_ == "Window") == 1,
      s"expected exactly one Window node:\n$p")
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected one shuffle:\n$p")
  }

  test("v1 top-k re-ranks via bounded aggregation, not a window exchange") {
    // a row_number window partitioned by query_id caps parallelism at
    // |queries| tasks; the TopKAggregator plan must carry no Window node
    // and keep a partial (map-side) aggregation before the exchange
    val p = plan(graft.analytics.ExtPipelines.cosineTopK(spark, sf()))
    assert(!p.contains("Window"), s"window re-rank crept back:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$p")
  }

  test("t13: token offsets use bucket-partitioned windows, never a global one") {
    // a windowspecdefinition with no partition key runs in ONE task; the
    // two-LEVEL prefix sum must window within _bkt partitions for the
    // docs and within _sbkt for the (tiny) bucket-totals side — every
    // window and every shuffle keyed on a bucket column, none global
    val p = plan(graft.analytics.ExtPipelines.tokenShards(spark, sf()))
    assert(p.contains("windowspecdefinition(_bkt"),
      s"doc window must partition by _bkt:\n$p")
    assert(p.contains("windowspecdefinition(_sbkt"),
      s"bucket-base window must partition by _sbkt:\n$p")
    val windows = p.sliding("windowspecdefinition(".length)
      .count(_ == "windowspecdefinition(")
    val bucketKeyed =
      p.sliding("windowspecdefinition(_bkt".length).count(_ == "windowspecdefinition(_bkt") +
      p.sliding("windowspecdefinition(_sbkt".length).count(_ == "windowspecdefinition(_sbkt")
    assert(windows == bucketKeyed, s"a global window crept in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange — the global prefix sum is back:\n$p")
    // the doc-bearing side shuffles ONCE on _bkt; the extra exchanges
    // belong to the nDocs/bucketSize-row totals side, also bucket-keyed
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    val bucketShuffles =
      p.sliding("Exchange hashpartitioning(_bkt".length).count(_ == "Exchange hashpartitioning(_bkt") +
      p.sliding("Exchange hashpartitioning(_sbkt".length).count(_ == "Exchange hashpartitioning(_sbkt")
    assert(shuffles == bucketShuffles, s"non-bucket-keyed shuffle:\n$p")
  }

  test("x15: centroid assignment broadcasts the seeds, argmax combines map-side") {
    val assigned = graft.ext.Dedup.semanticClusters(
      graft.sources.Tables.embeddings(spark, sf()), nClusters = 8)
    val p = plan(assigned)
    // the k seed centroids ride a broadcast exchange — a plain
    // CartesianProduct here would shuffle the corpus against the seeds
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the per-id argmax combines BEFORE the exchange: the shuffle
    // carries one max_by partial per id per task, never the vectors
    assert(p.contains("partial_max_by"), p)
  }

  test("t17: shard assignment costs exactly one exchange (the per-shard window)") {
    val sharded = graft.ext.DataSplit.shuffledShards(
      graft.sources.Tables.documents(spark, sf()), "doc_id", nShards = 8)
    val p = plan(sharded)
    val shuffles = p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected 1 shuffle, plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), "no global sort:\n" + p)
    assert(!p.contains("Exchange SinglePartition"), "no single-task funnel:\n" + p)
  }

  test("t18: adaptive gate joins broadcast thresholds — no per-source window sort") {
    val p = plan(graft.analytics.ExtPipelines.qualityGateAdaptive(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), "percent_rank window would sort a whole source in one task:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t19: BM25 never shuffles the corpus — integer stats ride a broadcast back") {
    val p = plan(graft.analytics.ExtPipelines.bm25Scores(spark, sf()))
    // the ONLY exchange is the single-row stats aggregate (partials
    // combine map-side); the corpus itself is scanned twice, shuffled never
    assert(!p.contains("Exchange hashpartitioning"), s"corpus shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row stats × corpus
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t20: the pruned LM rides a broadcast; the corpus never sort-merges") {
    val p = plan(graft.analytics.ExtPipelines.lmCoverage(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // integer masses combine map-side before the per-doc shuffle
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("t21: fixed-size feature LM broadcasts; top-100 is TakeOrdered, no global sort") {
    val p = plan(graft.analytics.ExtPipelines.importanceRatio(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      "a materialized global sort would ship every row to sort:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t34: weighted sample is TakeOrdered over a map-only scan — no shuffle at all") {
    val p = plan(graft.analytics.ExtPipelines.weightedSample(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"),
      "A-Res needs only per-partition top-K partials merged on the driver:\n" + p)
  }

  test("x17: the batch probes a broadcast sketch — no join against the corpus") {
    val p = plan(graft.analytics.ExtPipelines.bloomIngest(spark, sf()))
    // the corpus contributes ONE sketch row (partials OR-merge
    // map-side); the batch never shuffles and never equi-joins anything
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("v5: the filtered-ANN label predicate reaches the parquet scan") {
    val p = plan(graft.analytics.ExtPipelines.filteredCosineTopK(spark, sf()))
    assert(p.contains("IsNotNull(label)") && p.contains("LessThan(label,5)"),
      s"label filter must push into the corpus scan:\n$p")
  }

  test("t12: corpus mixing is a pure per-row plan — no shuffle, no join") {
    val p = plan(graft.analytics.ExtPipelines.corpusMix(spark, sf()))
    assert(!p.contains("Exchange"), s"mixing must not shuffle:\n$p")
    assert(!p.contains("Join"), s"mixing must not join:\n$p")
    assert(p.contains("Generate"), p) // the explode emitting copies
  }

  test("v10: centroid table broadcasts onto the scoring scan — no sort-merge") {
    val p = plan(graft.analytics.ExtPipelines.centroidOutliers(spark, sf()))
    // every join in the pipeline (source lookup, sample intersect,
    // centroid attach) builds a broadcast side; the corpus-sized
    // embeddings scan must never sort-merge or re-hash for scoring
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle into a sort-merge join:\n$p")
  }

  test("x23b: blocked edit-distance join is equi-join only — no nested loop") {
    val p = plan(graft.analytics.ExtPipelines.editDistNearDupsBlocked(spark, sf()))
    // the exact all-pairs form (x23) is BroadcastNestedLoopJoin by
    // construction; the blocked twin's whole point is that every join
    // is an equi-join on (segment index, substring) or ids — except
    // the |short|·n side route, which is empty on this corpus and must
    // plan as a join over an empty side, not dominate the plan
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"),
      s"blocked candidates must never cartesian:\n$p")
    // and the exact twin IS the nested-loop form (sanity: the two
    // really are different plans, not the same one renamed)
    val pExact = plan(graft.analytics.ExtPipelines.editDistNearDups(spark, sf()))
    assert(pExact.contains("BroadcastNestedLoopJoin") ||
      pExact.contains("CartesianProduct"), pExact)
  }

  test("x23b: short heads take the length-band equi-join — no cross join in the plan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny head"), (2L, "tiny hxad"),
      (3L, "a full length document head well past thirty-two characters"))
      .toDF("doc_id", "text")
    val df = graft.ext.Dedup.editDistanceNearDupsBlocked(docs, maxDist = 4)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"a tiny-doc-heavy corpus must not degenerate to short × everything:\n$p")
    // and the banded route still finds the planted short pair exactly
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1)), got.mkString(","))
  }

  test("sql11: lateral top-N decorrelates to window + equi-join — one orders scan, no nested loop") {
    val p = plan(Pipelines.sqlLateralTopN(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the correlated LIMIT subquery must decorrelate, not re-execute per row:\n$p")
    assert(p.contains("row_number"),
      s"the per-customer LIMIT must become a rank filter:\n$p")
    assert(p.linesIterator.count(_.contains("orders.parquet")) == 1,
      s"orders must be scanned exactly once (a nested-loop apply re-scans it):\n$p")
  }

  test("sql12: recursion is a UnionLoop over one row; orders filter pushed; spine join broadcast") {
    val p = plan(Pipelines.sqlRecursiveSpine(spark, sf()))
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE must execute as Spark's native iterative union:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"the date range must reach the orders scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 12-row spine must broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"revenue must partial-aggregate before its exchange:\n$p")
  }

  test("sql13: Q21 shape — EXISTS/NOT EXISTS decorrelate to semi/anti joins, no nested loop") {
    val p = plan(Pipelines.sqlMultiExists(spark, sf()))
    // both correlated subqueries must decorrelate into hash joins on
    // l_orderkey (the l_suppkey <> … inequality rides the join as a
    // secondary condition) — never a per-outer-row re-execution
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no join may degenerate to a nested loop:\n$p")
    // the three lineitem legs stay pruned columnar scans: the
    // returnflag filter reaches l1/l3, and the semi-join leg (l2) reads
    // only its join/condition columns
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || p.contains("EqualTo(l_returnflag,R)"),
      s"the returnflag filter must reach the lineitem scans:\n$p")
    assert(p.linesIterator.exists(l => l.contains("lineitem.parquet")
        && l.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>")),
      s"the EXISTS leg must prune to its two join columns:\n$p")
  }

  test("runtime bloom filter: a selective dim predicate pre-prunes the fact scan at cluster thresholds") {
    // Spark injects a runtime BLOOM filter of the filtered build side
    // into the fact side of a shuffle join when the fact scan exceeds
    // spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold
    // (10GB default — the deployment knob, left alone in production).
    // At 100 TB this is the difference between shuffling every fact
    // row and shuffling only rows whose key MIGHT match the selective
    // dim predicate — the runtime analog of a static partition prune.
    // Local data never crosses 10GB, so the test lowers the threshold
    // (and disables broadcast, which would bypass the shuffle join) to
    // pin that the feature fires on our plans at cluster sizes.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    try {
      import org.apache.spark.sql.functions._
      val li = sources.Tables.lineitem(spark, sf())
      val ord = sources.Tables.orders(spark, sf())
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(sum(col("l_extendedprice")).as("rev"))
      val p = plan(joined)
      assert(p.contains("might_contain"),
        s"the fact side must carry the runtime bloom probe:\n$p")
      assert(p.contains("bloom_filter_agg"),
        s"the filtered dim side must build the bloom filter:\n$p")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("sql14: NOT IN plans the null-aware broadcast anti join, not a nested loop") {
    val p = plan(Pipelines.sqlNotIn(spark, sf()))
    // the single-column NOT IN must become a BroadcastHashJoin with
    // the null-aware flag (trailing `true` in the node's argument
    // list) — the build tracks whether any key was NULL so the probe
    // answers the ANSI three-valued semantics without a nested loop
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin")
        && l.contains("LeftAnti, BuildRight, true")),
      s"NOT IN must plan as a null-aware broadcast anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"the null-aware anti join must not degenerate to a nested loop:\n$p")
    // both scans pruned; the status filter reaches the orders scan
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"the status filter must push into the orders scan:\n$p")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"),
      s"the customer scan must prune to its two columns:\n$p")
  }

  test("m6: signature dedup is one partial-aggregated exchange — x1's scale class") {
    val p = plan(graft.analytics.ExtPipelines.mediaSigDedup(spark, sf()))
    assert(p.contains("partial_min") && p.contains("partial_count"),
      s"map-side combine must precede the one signature shuffle:\n$p")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"exactly one sig shuffle expected:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a hash-group dedup:\n$p")
  }

  test("g28: grouping sets plan one Expand and one aggregate exchange") {
    val p = plan(Pipelines.groupingSetsSummary(spark, sf()))
    assert(p.contains("Expand"), p)
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"the whole lattice must aggregate through one exchange:\n$p")
  }

  test("g29: unpivot plans as Expand over the wide rows, not a union of selects") {
    val p = plan(Pipelines.unpivotDurations(spark, sf()))
    assert(p.contains("Expand"), p)
    assert(!p.contains("Union"), s"unpivot must not plan a union:\n$p")
  }

  test("sql2: correlated EXISTS decorrelates — no per-row subquery plans") {
    val p = plan(Pipelines.sqlExists(spark, sf()))
    assert(p.contains("Semi"), s"EXISTS must become a semi join:\n$p")
  }

  test("sql3: CTE inlines (no materialization) and HAVING is a post-agg filter") {
    val p = plan(Pipelines.sqlCteHaving(spark, sf()))
    // one aggregate pair (partial+final) over the inlined join — a
    // materialized CTE would show a second scan/exchange chain
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial"), p)
    assert(p.contains("Filter (n_orders"), s"HAVING must filter the aggregate:\n$p")
  }

  test("sql4: IN-subquery plans as a semi join, filters pushed to both scans") {
    val p = plan(Pipelines.sqlInSubquery(spark, sf()))
    assert(p.contains("Semi"), s"IN must become a semi join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date filter must reach the orders scan:\n$p")
  }

  test("sql5: both window specs ride ONE o_custkey shuffle (re-sort, no re-exchange)") {
    val p = plan(Pipelines.sqlWindow(spark, sf()))
    // rank + running sum share the o_custkey partition → exactly one
    // exchange; differing ORDER BYs cost a partition-local Sort only
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(o_custkey")) == 1,
      s"one shuffle on o_custkey expected:\n$p")
    assert(p.linesIterator.count(_.contains("+- Window")) == 2, p)
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"no second exchange for the second window spec:\n$p")
  }

  test("sql6: INTERSECT/EXCEPT plan as semi/anti joins with filters pushed") {
    val p = plan(Pipelines.sqlSetOps(spark, sf()))
    assert(p.contains("Semi"), s"INTERSECT must become a semi join:\n$p")
    assert(p.contains("Anti"), s"EXCEPT must become an anti join:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$p")
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"priority filter must reach the orders scan:\n$p")
  }

  test("sql7: ROLLUP plans one Expand ABOVE the dimension joins, one agg exchange") {
    val p = plan(Pipelines.sqlRollup(spark, sf()))
    assert(p.linesIterator.count(_.contains("Expand")) == 1,
      s"the 3-level lattice must be one Expand, not unioned scans:\n$p")
    // the Expand (row ×3 fan-out) must consume the join OUTPUT: in the
    // formatted plan the joins are numbered deeper than the Expand
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    val joinIdx = lines.indexWhere(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin"))
    assert(expandIdx >= 0 && joinIdx > expandIdx,
      s"joins must sit under the Expand (fan out after pruning):\n$p")
    assert(!p.contains("Union"), s"rollup must not plan a union:\n$p")
  }

  test("sql8: SELECT-list scalar subqueries decorrelate to aggregate joins") {
    val p = plan(Pipelines.sqlSelectSubquery(spark, sf()))
    // each correlated scalar subquery becomes a grouped aggregate on
    // o_custkey joined left-outer — never a per-row re-execution
    // (which would surface as a Subquery/ScalarSubquery node in the
    // executed plan)
    assert(!p.contains("Subquery"), s"subqueries must decorrelate:\n$p")
    assert(p.linesIterator.count(_.contains("LeftOuter")) >= 2,
      s"two decorrelated aggregate legs expected (one per subquery):\n$p")
    assert(p.contains("PushedFilters: [In(c_mktsegment"),
      s"segment IN-filter must reach the customer scan:\n$p")
  }

  test("sql9: six-table Q5 shape — broadcast dims, equi-joins only, pushed filters") {
    val p = plan(Pipelines.sqlMultiJoin(spark, sf()))
    // fixed-size dims broadcast; no join may degenerate to a
    // nested-loop (the c_nationkey = s_nationkey condition is an
    // equi-condition ON the supplier join, not a filter over a cross)
    assert(p.contains("BroadcastHashJoin"),
      s"nation/region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"all six joins must stay equi-joins:\n$p")
    // selective predicates reach their scans: region name and the
    // orders date range (the scan pruner at 100 TB)
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the region scan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the orders scan:\n$p")
    val rows = Pipelines.sqlMultiJoin(spark, sf()).collect()
    assert(rows.nonEmpty)
  }

  test("x25b: every stage is an equi-join — no cartesian, no nested-loop") {
    val p = plan(graft.ext.Dedup.jaroWinklerPairsBlocked(
      sources.Tables(spark, sf(), "part"), "p_partkey", "p_name", "p_brand"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      s"identical-name expansion, signature join and id expansion must all " +
      s"be equi-joins:\n$p")
  }

  test("v17: range search is one broadcast-join scan — zero shuffles") {
    val df = graft.ext.Similarity.rangeSearch(
      sources.Tables.embeddings(spark, sf()))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"query side must broadcast:\n$p")
    // nothing aggregates and nothing re-keys: output streams straight
    // from the corpus scan (the whole point of the range form)
    assert(!p.contains("Exchange hashpartitioning"),
      s"range search must not shuffle the corpus:\n$p")
  }

  test("sql10: the rn=1 dedup text plans a WindowGroupLimit below the window") {
    val p = plan(Pipelines.sqlWindowDedup(spark, sf()))
    assert(p.contains("WindowGroupLimit"),
      s"the rank-1 filter must push a per-group limit under the window — " +
      s"without it every partition sorts ALL its duplicate rows:\n$p")
  }

  test("g34: retention matrix scans the fact table ONCE (window, not self-join)") {
    val p = plan(Pipelines.retentionCohorts(spark, sf()))
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"cohort attachment must be a window over the one distinct scan — a " +
      s"days-vs-cohorts join would scan events twice:\n$p")
  }

  test("g30: basket shape — one lineitem scan, pairs map-side, no self-join") {
    val df = Pipelines.coPurchasePairs(spark, sf())
    val p = plan(df)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"the basket form scans lineitem once (a self-join would scan twice):\n$p")
    assert(p.contains("Generate explode"), s"pairs must come from explode:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)),
      "pairs must be canonical p1 < p2")
  }

  test("t32: NB model broadcasts onto the token scan; doc text never reaches an exchange") {
    val p = plan(graft.analytics.ExtPipelines.nbQualityScore(spark, sf()))
    // scoring = explode → broadcast-hash left join against the pruned
    // model; the only shuffles carry tokens (model build) and
    // (doc_id, longs) (per-doc sum) — never the document text
    assert(p.contains("BroadcastHashJoin"), p)
    val exchangeOnText = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!exchangeOnText, s"text must not reach an exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("v14: IVF-PQ candidate stage joins broadcast probes — the encoded corpus never shuffles") {
    val p = plan(graft.analytics.ExtPipelines.annIvfPqTopK(spark, sf()))
    // the (query, probed-list, LUT) side broadcasts onto the packed-code
    // scan; only the tiny probe crosses (queries x centroids) may plan
    // nested-loop
    assert(p.contains("BroadcastHashJoin"), p)
    val exchangeOnEmbedding = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("embedding#"))
    assert(!exchangeOnEmbedding,
      s"corpus vectors must not hash-shuffle:\n$p")
  }

  test("x19: snapshot diff shuffles digests, never document text") {
    val docs = sources.Tables.documents(spark, sf()).select("doc_id", "text")
    val p = plan(graft.ext.Dedup.snapshotDiff(docs, docs))
    // both sides reduce to (id, 64-char sha) BELOW the exchange: the
    // shuffled attributes are the digest projections, not text
    val exchangeOnText = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!exchangeOnText, s"text must not reach an exchange:\n$p")
    assert(p.contains("sha2"), p)
  }

  test("t35: digest partials combine MAP-SIDE; the scan reads only (source, n_chars)") {
    val p = plan(graft.analytics.ExtPipelines.quantileSketch(spark, sf()))
    // the mergeable-summary cost shape: a partial ObjectHashAggregate
    // BELOW the exchange ships ≤ O(k)-entry maps per partition, never
    // the rows — losing the partial stage would shuffle the corpus
    assert(p.contains("partial_qdigestaggregator"), p)
    // text never read: the digest side's scan is pruned to 2 columns
    assert(!p.contains("text#"), s"document text must not be scanned:\n$p")
  }

  test("g36: bottom-k sketch partials combine MAP-SIDE; the scan reads only (event_type, user_id)") {
    // the sketch-build side of the theta family in isolation (the
    // registered row's finishing stage collects it): same t35 cost
    // shape — ≤ 4k-long set partials below the exchange, never rows
    import org.apache.spark.sql.functions.{col, udaf, xxhash64}
    val k = graft.functions.Theta.DefaultK
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val p = plan(graft.sources.Tables.events(spark, sf())
      .groupBy(col("event_type").as("seg"))
      .agg(th(xxhash64(col("user_id"))).as("sk")))
    assert(p.contains("partial_thetasketchaggregator"), p)
    assert(!p.contains("props#") && !p.contains("value#"),
      s"only (event_type, user_id) may be scanned:\n$p")
  }

  test("g38: the sketch-store SERVE plan scans only the store's own parquet — the events are never rescanned") {
    // the serving-path claim made literal: build a real store from the
    // daily rows, then pin that the week-rollup serve's executed plan
    // reads the STORE path alone — no events scan, merge partials
    // combining map-side like every mergeable summary
    import org.apache.spark.sql.functions.{col, date_format, date_trunc, udaf, xxhash64}
    val k = graft.functions.Theta.DefaultK
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val daily = graft.sources.Tables.events(spark, sf()).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"))
      .groupBy("week", "day").agg(th(xxhash64(col("user_id"))).as("sk"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_g38_plan")
    try {
      val store = s"$tmp/store"
      graft.ext.SketchStore.save(daily, store,
        graft.analytics.Pipelines.ThetaStoreKind)
      val serve = graft.analytics.Pipelines.thetaStoreWeekly(spark, store,
        "0000-01-01", "9999-12-31")
      val p = plan(serve)
      val scans = p.linesIterator.filter(_.contains("Scan parquet")).toSeq
      assert(scans.nonEmpty, p)
      // every file scan in the serve plan reads the store, nothing else
      assert(!p.contains("events.parquet"),
        s"the serve must not rescan events:\n$p")
      assert(p.contains("partial_thetamergeaggregator"), p)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("g39/t37: the HLL and q-digest store SERVE plans scan only the store's parquet — the events are never rescanned") {
    // the g38 pin extended to the other two mergeable families: build
    // a real store from each family's daily rows, then pin that the
    // week-rollup serve reads the STORE path alone
    import org.apache.spark.sql.functions.{col, date_format, date_trunc, expr, udaf}
    val ev = graft.sources.Tables.events(spark, sf()).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"), col("value"), col("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_g39_plan")
    try {
      // HLL family
      val hllDaily = ev.groupBy("week", "day")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val hllStore = s"$tmp/hll"
      graft.ext.SketchStore.save(hllDaily, hllStore,
        graft.analytics.Pipelines.HllStoreKind)
      val pHll = plan(graft.analytics.Pipelines.hllStoreWeekly(spark,
        hllStore, "0000-01-01", "9999-12-31"))
      assert(pHll.linesIterator.exists(_.contains("Scan parquet")), pHll)
      assert(!pHll.contains("events.parquet"),
        s"the HLL serve must not rescan events:\n$pHll")
      assert(pHll.toLowerCase.contains("partial_hll_union_agg"), pHll)
      // q-digest family
      val m = graft.functions.QDigest.RollupM
      val qd = udaf(new graft.functions.QDigestAggregator(
        graft.functions.QDigest.RollupK, m))
      val qdDaily = ev.select(col("week").as("source"), col("day"),
        graft.functions.QDigest.clampToUniverse(
          graft.ops.Viewing.cents, m).as("v"))
        .groupBy("source", "day").agg(qd(col("v")).as("digest"))
      val qdStore = s"$tmp/qd"
      graft.ext.SketchStore.save(qdDaily, qdStore,
        graft.analytics.ExtPipelines.QdigestStoreKind)
      val pQd = plan(graft.analytics.ExtPipelines.qdigestStoreWeekly(spark,
        qdStore, "0000-01-01", "9999-12-31"))
      assert(pQd.linesIterator.exists(_.contains("Scan parquet")), pQd)
      assert(!pQd.contains("events.parquet"),
        s"the q-digest serve must not rescan events:\n$pQd")
      assert(pQd.contains("partial_qdigestmergeaggregator"), pQd)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }
}
