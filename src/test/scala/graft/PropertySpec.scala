package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{Skew, Viewing}

/** ScalaCheck property tests over generated event data. */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, n: Int = 20): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val eventGen: Gen[List[(Long, String, Double)]] = Gen.listOfN(200,
    for {
      user <- Gen.chooseNum(0L, 20L)
      et <- Gen.oneOf("view", "click", "purchase", "signup", "error", "junk")
      cents <- Gen.chooseNum(1L, 50000L)
    } yield (user, et, cents / 100.0))

  test("property: pivot row-sums equal long-form sums on generated data") {
    import spark.implicits._
    check(Prop.forAll(eventGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("user_id", "event_type", "value")
        val long = Viewing.durationByCategory(
          Viewing.validRows(Viewing.categorize(df)))
        val pivotTotal = Viewing.pivotDurations(long)
          .select(Viewing.categories.map(col).reduce(_ + _).as("s"))
          .agg(coalesce(sum("s"), lit(0L))).collect()(0).getLong(0)
        val longTotal = long.agg(coalesce(sum("value_cents"), lit(0L)))
          .collect()(0).getLong(0)
        pivotTotal == longTotal
      }
    }, n = 10)
  }

  test("property: fast flagship equals faithful flagship on generated data") {
    import spark.implicits._
    check(Prop.forAll(eventGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("user_id", "event_type", "value")
        val a = Viewing.fullPipeline(df)
        val b = Viewing.fullPipelineFast(df)
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      }
    }, n = 10)
  }

  test("property: salted sum/count equals plain groupBy") {
    import spark.implicits._
    check(Prop.forAll(eventGen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("user_id", "event_type", "value")
        val plain = df.groupBy("user_id")
          .agg(sum("value").as("s"), count(lit(1)).as("c")).collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        val salted = Skew.saltedSumCount(df, "user_id", "value").collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
        plain.keySet == salted.keySet && plain.forall { case (k, (s, c)) =>
          math.abs(s - salted(k)._1) < 1e-6 && c == salted(k)._2
        }
      }
    }, n = 10)
  }

  test("property: binned range join equals naive theta join on random intervals") {
    import spark.implicits._
    val pointsGen = Gen.listOfN(60, for {
      k <- Gen.chooseNum(0L, 5L); id <- Gen.chooseNum(0L, 10000L)
      t <- Gen.chooseNum(0L, 2000L)
    } yield (k, id, t))
    val rangesGen = Gen.listOfN(25, for {
      k <- Gen.chooseNum(0L, 5L); id <- Gen.chooseNum(0L, 10000L)
      s <- Gen.chooseNum(0L, 1900L); len <- Gen.chooseNum(1L, 400L)
    } yield (k, id, s, s + len))
    check(Prop.forAll(pointsGen, rangesGen) { (ps, rs) =>
      ps.isEmpty || rs.isEmpty || {
        val points = ps.toDF("k", "pid", "t")
        val ranges = rs.toDF("k", "rid", "s", "e")
        val binned = graft.ops.RangeJoin.pointInRange(
          points, ranges, "k", "t", "s", "e", binWidth = 128L)
          .select("pid", "rid", "t", "s")
        val naive = points.join(ranges.withColumnRenamed("k", "k2"),
          col("k") === col("k2") && col("t") >= col("s") && col("t") < col("e"))
          .select("pid", "rid", "t", "s")
        binned.exceptAll(naive).isEmpty && naive.exceptAll(binned).isEmpty
      }
    }, n = 10)
  }

  test("property: mix emits floor(w) or ceil(w) copies per row, deterministically") {
    import spark.implicits._
    val weightsGen = for {
      w0 <- Gen.chooseNum(0, 8); w1 <- Gen.chooseNum(0, 8)
      d <- Gen.chooseNum(0, 8)
    } yield (w0 / 4.0, w1 / 4.0, d / 4.0) // quarters — exact 1/65536ths
    val rowsGen = Gen.listOfN(80, for {
      id <- Gen.chooseNum(0L, 5000L)
      src <- Gen.oneOf("sA", "sB", "sC")
    } yield (id, src))
    check(Prop.forAll(rowsGen, weightsGen) { case (rows, (wA, wB, d)) =>
      rows.isEmpty || {
        val df = rows.distinct.toDF("doc_id", "source")
        val weights = Map("sA" -> wA, "sB" -> wB)
        val mixed = graft.ext.DataSplit.mix(df, "doc_id", weights, d)
        val counts = mixed.groupBy("doc_id", "source").count()
          .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        val perRowOk = df.collect().forall { r =>
          val w = weights.getOrElse(r.getString(1), d)
          val c = counts.getOrElse((r.getLong(0), r.getString(1)), 0L)
          c == math.floor(w).toLong || c == math.ceil(w).toLong
        }
        val again = graft.ext.DataSplit.mix(df, "doc_id", weights, d)
        perRowOk && mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty
      }
    }, n = 10)
  }

  test("single-scan method1 beats per-day-union method2 (reference's 2.45x)") {
    // the one reproducible RELATIVE number BASELINE.md publishes: the
    // reference's single multi-file scan beat its per-day pipeline+union
    // 2.45x. Two checks, strongest first:
    // (1) LOGICAL work — deterministic on any box: the per-day plan
    //     carries one scan leaf per day, the single-scan plan exactly
    //     one. This is WHY method1 wins, load-independent.
    // (2) wall clock — best-of-2 per side after a warmup, and because
    //     this suite shares a box whose bench spreads reach 8x, one
    //     retry on inversion before failing (a genuine regression
    //     inverts every time; neighbor load doesn't).
    val events = graft.sources.Tables.events(spark, sf())
    val allDays = (1 to 30).map(d => f"2024-01-$d%02d")
    def m1() = Viewing.durationByCategory(
      Viewing.validRows(Viewing.categorize(events)))
    def m2() = Viewing.unionDays(events, allDays)
    // logical-plan leaves, not executedPlan — AQE wraps the physical
    // plan in a single AdaptiveSparkPlanExec leaf
    def scanLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collectLeaves().size
    val (l1, l2) = (scanLeaves(m1()), scanLeaves(m2()))
    assert(l2 >= allDays.size && l1 < l2,
      s"per-day union should plan one scan per day ($l2 leaves) vs the " +
        s"single scan's $l1")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best2(f: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    run(m1()); run(m2()) // warmup: codegen + parquet footers
    val m2Slower = (1 to 2).exists { _ =>
      val (t1, t2) = (best2(run(m1())), best2(run(m2())))
      t2 > t1
    }
    assert(m2Slower, "per-day union measured faster than single scan " +
      "twice in a row (best-of-2 each) — investigate a real regression")
  }

  test("property: connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    // random sparse graphs over ≤ 40 nodes: chains, triangles, stars and
    // isolated pairs all arise; the oracle is a classic union-find with
    // min-id relabeling — exercises the seeded first pull, the pointer
    // doubling and the checksum fixpoint probe against ground truth
    val edgeGen: Gen[List[(Long, Long)]] = Gen.listOfN(60,
      for { a <- Gen.chooseNum(0L, 39L); b <- Gen.chooseNum(0L, 39L) if a != b }
        yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(edgeGen) { edges =>
      edges.isEmpty || {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        val got = graft.ext.Dedup.connectedComponents(
            edges.toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }, n = 8)
  }

  test("property: delete+compact ≡ rebuild for random corpora, delete sets and bucket counts") {
    import spark.implicits._
    // random shingle-disjoint corpora (per-doc token alphabet), random
    // delete subsets, random NON-default bucket counts: after a
    // tombstone delete and a compaction, the index frames must equal a
    // fresh build over the survivors as MULTISETS — the x26d identity
    // exercised across layouts the deterministic specs never pick.
    // Few cases (each runs save+delete+compact+save) but each is a
    // full end-to-end maintenance cycle.
    val caseGen = for {
      nDocs <- Gen.chooseNum(2, 10)
      buckets <- Gen.chooseNum(1, 9)
      doomed <- Gen.someOf(0 until nDocs)
    } yield (nDocs, buckets, doomed.toSet)
    check(Prop.forAll(caseGen) { case (nDocs, buckets, doomed) =>
      val root = java.nio.file.Files.createTempDirectory("graft-prop-mh")
      try {
        val docs = (0 until nDocs).map(i =>
          (i.toLong, s"p${i}a p${i}b p${i}c p${i}d p${i}e"))
        val path = s"$root/idx"
        graft.ext.Dedup.saveMinhashIndex(
          docs.toDF("doc_id", "text"), path, idBuckets = buckets)
        graft.ext.Dedup.deleteFromMinhashIndex(
          doomed.toSeq.map(_.toLong).toDF("doc_id"), path)
        graft.ext.Dedup.compactMinhashTombstones(spark, path)
        graft.ext.Dedup.saveMinhashIndex(
          docs.filterNot(d => doomed.contains(d._1.toInt))
            .toDF("doc_id", "text"),
          s"$root/rb", idBuckets = buckets)
        val (gb, gs, gz) = graft.ext.Dedup.loadMinhashIndex(spark, path)
        val (rb, rs, rz) = graft.ext.Dedup.loadMinhashIndex(spark, s"$root/rb")
        def eq(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame): Boolean =
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        eq(gb, rb) && eq(gs, rs) && eq(gz, rz) &&
          graft.ext.Dedup.loadMinhashTombstones(spark, path).isEmpty
      } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }, n = 6)
  }

  test("property: rebucket across random count pairs and delete subsets equals a fresh build at the target count") {
    import spark.implicits._
    // random (source count, target count) pairs — including shrinks,
    // identity (b1 == b2), and count-1 edges — with random standing
    // tombstones: after rebucketMinhashIndex the frames must equal a
    // fresh build at the TARGET count over the survivors as MULTISETS,
    // the tombstones must be resolved, and the manifest must read back
    // the new count. The deterministic spec pins one 16→48→32 walk;
    // this pins the identity across layouts it never picks.
    val caseGen = for {
      nDocs <- Gen.chooseNum(2, 10)
      b1 <- Gen.chooseNum(1, 9)
      b2 <- Gen.chooseNum(1, 97)
      doomed <- Gen.someOf(0 until nDocs)
    } yield (nDocs, b1, b2, doomed.toSet)
    check(Prop.forAll(caseGen) { case (nDocs, b1, b2, doomed) =>
      val root = java.nio.file.Files.createTempDirectory("graft-prop-rbk")
      try {
        val docs = (0 until nDocs).map(i =>
          (i.toLong, s"q${i}a q${i}b q${i}c q${i}d q${i}e"))
        val path = s"$root/idx"
        graft.ext.Dedup.saveMinhashIndex(
          docs.toDF("doc_id", "text"), path, idBuckets = b1)
        graft.ext.Dedup.deleteFromMinhashIndex(
          doomed.toSeq.map(_.toLong).toDF("doc_id"), path)
        graft.ext.Dedup.rebucketMinhashIndex(spark, path, b2)
        graft.ext.Dedup.saveMinhashIndex(
          docs.filterNot(d => doomed.contains(d._1.toInt))
            .toDF("doc_id", "text"),
          s"$root/rb", idBuckets = b2)
        val (gb, gs, gz) = graft.ext.Dedup.loadMinhashIndex(spark, path)
        val (rb, rs, rz) = graft.ext.Dedup.loadMinhashIndex(spark, s"$root/rb")
        def eq(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame): Boolean =
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        eq(gb, rb) && eq(gs, rs) && eq(gz, rz) &&
          graft.ext.Dedup.loadMinhashTombstones(spark, path).isEmpty &&
          graft.ext.Dedup.minhashIndexParams(spark, path)("buckets") ==
            b2.toString
      } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }, n = 6)
  }

  test("property: stageCompactFrame with non-trivial partition values — escaped strings and negative longs survive delete→compact→append cycles exactly") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.ext.IndexLayout
    // partition values whose DIRECTORY formatting is non-trivial: every
    // one of these strings is escaped by Spark's partition-path writer
    // ("a:b" → "a%3Ab"), and negative longs pin the numeric formatting.
    // The hazard under test: a FULLY-DEAD partition stages nothing, so
    // retire-matching falls back to formatting the affected values into
    // names — a formatter mismatch would fail to retire the entry while
    // the same flip drops the tombstones, silently RESURRECTING every
    // deleted row of that partition.
    // ASCII-only: this container's JVM runs a non-UTF-8
    // sun.jnu.encoding, so LocalFileSystem cannot even CREATE non-ASCII
    // paths (an environment limit, not a layout one)
    val escapable = Seq("a:b", "c=d", "e f", "g#h", "i%j", "k*l", "\"m\"n",
      "plain", "alpha", "beta")
    val caseGen = for {
      useLong <- Gen.oneOf(true, false)
      nParts <- Gen.chooseNum(2, 5)
      perPart <- Gen.chooseNum(1, 3)
      longVals <- Gen.pick(nParts, (-20L to 20L).toSeq)
      strVals <- Gen.pick(nParts, escapable)
      doomedA <- Gen.someOf(0L until (nParts * perPart).toLong)
      doomedB <- Gen.someOf(0L until (nParts * perPart + nParts).toLong)
    } yield (useLong, nParts, perPart,
      (if (useLong) longVals else strVals).toSeq, doomedA.toSet, doomedB.toSet)
    check(Prop.forAll(caseGen) {
      case (useLong, nParts, perPart, pvs, doomedA, doomedB) =>
        val root = java.nio.file.Files.createTempDirectory("graft-prop-fmt")
        try {
          val path = s"$root/idx"
          val pvType = if (useLong) LongType else StringType
          val schema = StructType(Seq(
            StructField("id", LongType), StructField("pv", pvType)))
          IndexLayout.writeManifest(spark, path, IndexLayout.newManifest(
            "graft-proptest", Map.empty,
            Map("data" -> schema,
              "tombstones" -> StructType(Seq(StructField("id", LongType))))))
          def toDf(rows: Seq[(Long, Any)]) =
            if (useLong) rows.map { case (i, v) => (i, v.asInstanceOf[Long]) }
              .toDF("id", "pv")
            else rows.map { case (i, v) => (i, v.asInstanceOf[String]) }
              .toDF("id", "pv")
          var live: Map[Long, Any] = (0 until nParts * perPart)
            .map(i => i.toLong -> pvs(i % nParts)).toMap
          toDf(live.toSeq).repartition(col("pv")).write.partitionBy("pv")
            .parquet(IndexLayout.genRoot(path, "data", 0))
          def compactCycle(doomed: Set[Long]): Unit = {
            val del = doomed.intersect(live.keySet)
            if (del.nonEmpty) {
              val m = IndexLayout.readManifest(spark, path).get
              IndexLayout.appendTombstones(spark, path, m,
                del.toSeq.toDF("id"), "id")
              val affected = del.map(live).toSeq.distinct
              IndexLayout.flipGeneration(spark, path, "graft-proptest") { m1 =>
                val tomb = IndexLayout.loadTombstones(spark, path, m1, "id").get
                Some(newGen => IndexLayout.GenerationStage(Map(
                  "data" -> IndexLayout.stageCompactFrame(spark, path, m1,
                    "data", "pv", affected, tomb, "id", newGen)),
                  resolvesTombstones = true))
              }
              live = live -- del
            }
          }
          def stateOk: Boolean = {
            val m = IndexLayout.readManifest(spark, path).get
            val got = IndexLayout.readFrame(spark, path, m, "data").collect()
              .map(r => (r.getLong(0), r.get(1))).toSeq
            // exact MULTISET equality: no resurrection (a dead row
            // surviving the flip), no duplication (a row staged AND
            // retained), no lost survivor
            got.sortBy(_._1) == live.toSeq.sortBy(_._1) &&
              got.size == got.distinct.size
          }
          compactCycle(doomedA)
          val okA = stateOk
          // interleaved APPEND into existing partitions (fresh ids),
          // then a second delete→compact — crosses generations so the
          // fold, the fallback and the grace interact in one lifecycle
          val appended = (0 until nParts)
            .map(i => (nParts * perPart + i).toLong -> pvs(i)).toMap
          val mA = IndexLayout.readManifest(spark, path).get
          IndexLayout.stageAppendBatch(spark, path, "data",
            s"a${IndexLayout.seqOf(mA) + 1}", toDf(appended.toSeq),
            Some("pv"))
            .foreach(e =>
              IndexLayout.commitAppend(spark, path, mA, Map("data" -> e)))
          live = live ++ appended
          compactCycle(doomedB)
          okA && stateOk
        } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }, n = 8)
  }

  test("comma-bearing partition values are refused LOUDLY at compaction (unrepresentable in the manifest composition)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-comma")
    try {
      val path = s"$root/idx"
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("pv", StringType)))
      IndexLayout.writeManifest(spark, path, IndexLayout.newManifest(
        "graft-proptest", Map.empty,
        Map("data" -> schema,
          "tombstones" -> StructType(Seq(StructField("id", LongType))))))
      Seq((1L, "a,b"), (2L, "plain")).toDF("id", "pv")
        .repartition(col("pv")).write.partitionBy("pv")
        .parquet(IndexLayout.genRoot(path, "data", 0))
      val m = IndexLayout.readManifest(spark, path).get
      IndexLayout.appendTombstones(spark, path, m, Seq(2L).toDF("id"), "id")
      val m1 = IndexLayout.readManifest(spark, path).get
      val tomb = IndexLayout.loadTombstones(spark, path, m1, "id").get
      val e = intercept[IllegalStateException] {
        IndexLayout.stageCompactFrame(spark, path, m1, "data", "pv",
          Seq("plain"), tomb, "id", 1)
      }
      assert(e.getMessage.contains("','"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("property: lease reclaim state machine — crashed writers, torn files and racing reclaimers never yield two live owners") {
    import graft.ext.IndexLayout
    // random schedules over the axes the reclaim machinery arbitrates:
    // the crashed holder's TTL (live vs expired by the time anyone
    // else arrives), an optional TORN lease file (a kill mid-create —
    // unparseable, expiry falls back to file mtime under the reader's
    // TTL), and 1..3 CONCURRENT reclaimers. Invariants, whatever the
    // schedule: at most ONE reclaimer ever wins; against a LIVE holder
    // nobody wins; the dead holder's renew fails loudly and its
    // release never deletes the new owner's lease; and after the
    // winner releases, the path is acquirable again. This pins the
    // rename-arbitrated reclaim (two concurrent delete+create
    // reclaimers would both believe they own it) the way the rebucket
    // identity and q-digest bound are pinned — over schedules, not one
    // example.
    val caseGen = for {
      holderLiveTtl <- Gen.oneOf(true, false) // 60s vs 1ms holder lease
      torn <- Gen.oneOf(true, false)          // overwrite with garbage
      nRace <- Gen.chooseNum(1, 3)
    } yield (holderLiveTtl, torn, nRace)
    check(Prop.forAll(caseGen) { case (holderLive, torn, nRace) =>
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Files.createTempDirectory("graft-lease-prop")
      try {
        val path = s"$root/idx"
        val holderTtl = if (holderLive) 60000L else 1L
        // writer A acquires and CRASHES (never releases)
        val a = IndexLayout.acquireLease(spark, path, holderTtl)
        if (torn) {
          // the holder's lease file torn (killed mid-create/renew): it
          // must behave like a lease of file-mtime age, not wedge the
          // index forever and not grant anyone instant ownership
          val f = new java.io.FileOutputStream(
            s"$path/${IndexLayout.leaseGenFile(a.gen)}")
          try f.write("{torn".getBytes) finally f.close()
        }
        if (!holderLive) Thread.sleep(10) // let the 1ms lease expire
        // N concurrent reclaimers, each wanting a LONG lease
        // (shrinking ignores chooseNum's lower bound — clamp)
        val racers = nRace.max(1)
        val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[
          Throwable, IndexLayout.LeaseHandle]]()
        val threads = (0 until racers).map { i =>
          val t = new Thread(() =>
            results.put(i,
              try Right(IndexLayout.acquireLease(spark, path, 60000L))
              catch { case e: Throwable => Left(e) }))
          t.start(); t
        }
        threads.foreach(_.join(30000))
        val wins = results.values.asScala.collect { case Right(h) => h }.toSeq
        val losses = results.values.asScala.collect { case Left(e) => e }.toSeq
        // torn: the garbage file's mtime is NOW, so under the
        // reclaimers' 60s fallback TTL it reads as a LIVE unreadable
        // lease — nobody may win (it expires like any lease, it just
        // cannot be stolen instantly). live untorn holder: blocks all.
        // expired untorn: the rename arbitration yields EXACTLY one.
        val expectedWins = if (torn || holderLive) 0 else 1
        val okWins = wins.size == expectedWins &&
          losses.forall(_.isInstanceOf[IllegalStateException])
        // the crashed writer must not be able to renew once reclaimed,
        // and its release must never delete the new owner's lease
        val okOldWriter = wins.headOption.forall { w =>
          val renewFailed =
            try { IndexLayout.renewLease(spark, path, a); false }
            catch { case _: IllegalStateException => true }
          IndexLayout.releaseLease(spark, path, a)
          IndexLayout.leaseHolder(spark, path).contains(w.writerId) &&
            renewFailed
        }
        // release the winner (or the surviving holder) — the path must
        // be acquirable afterwards, so no schedule wedges the index
        wins.foreach(w => IndexLayout.releaseLease(spark, path, w))
        if (wins.isEmpty && !torn) IndexLayout.releaseLease(spark, path, a)
        val reacquired =
          try {
            // a torn file is reclaimable only once its fallback TTL
            // passes — acquire under a tiny one
            if (torn) Thread.sleep(5)
            val h = IndexLayout.acquireLease(spark, path,
              if (torn) 1L else 60000L)
            IndexLayout.releaseLease(spark, path, h); true
          } catch { case _: IllegalStateException => false }
        if (!(okWins && okOldWriter && reacquired))
          System.err.println(s"[lease-prop] holderLive=$holderLive " +
            s"torn=$torn racers=$racers wins=${wins.size} " +
            s"losses=${losses.map(e => e.getClass.getName + ":" + e.getMessage).mkString("; ")} " +
            s"okWins=$okWins okOldWriter=$okOldWriter reacquired=$reacquired")
        okWins && okOldWriter && reacquired
      } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }, n = 12)
  }

  test("property: manifest linearizability — under random verb schedules with crash points, concurrent readers only ever see exactly a committed state, and as-of reads are immutable") {
    import graft.ext.IndexLayout
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    // the data-visibility counterpart of the lease properties: whatever
    // interleaving of append / crashed-append / delete / compact /
    // crashed-compact the writer runs, a concurrent reader resolving
    // the manifest and reading (data ∖ tombstones) must see EXACTLY the
    // live id set of some committed seq — never a torn mix, never a
    // staged-but-uncommitted batch, with per-reader seqs monotonic —
    // and after the whole schedule every retained commit replays
    // identically through readManifestAt (as-of immutability).
    // Verb alphabet: 'a' append+commit, 'x' append staged then CRASHED
    // (no commit; its rows may be re-appended later — the replay path),
    // 'd' delete half the live ids, 'k' compact (tombstones resolved,
    // batch roots folded), 'c' compaction staged then CRASHED before
    // its flip. The model records each commit's expected live set
    // BEFORE the manifest write, so any visible seq is in the model.
    val verbGen = Gen.listOfN(6, Gen.frequency(
      (4, Gen.const('a')), (2, Gen.const('x')), (3, Gen.const('d')),
      (2, Gen.const('k')), (1, Gen.const('c'))))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("pv", LongType)))
    check(Prop.forAll(verbGen) { verbsRaw =>
      import scala.jdk.CollectionConverters._
      val verbs = if (verbsRaw.isEmpty) List('a', 'd', 'k') else verbsRaw
      val root = java.nio.file.Files.createTempDirectory("graft-linz")
      val grace0 = spark.conf.getOption(IndexLayout.RetiredGraceConfKey)
      // retired dirs outlive the schedule: readers here deliberately
      // straddle multiple compactions, which the liveness grace knob
      // (not the visibility protocol) is responsible for
      spark.conf.set(IndexLayout.RetiredGraceConfKey, "600000")
      try {
        val path = s"$root/idx"
        def rows(ids: Seq[Long]) = ids.map(i => (i, i % 3)).toDF("id", "pv")
        IndexLayout.writeManifest(spark, path, IndexLayout.newManifest(
          "graft-proptest", Map("manifestKeep" -> "64"),
          Map("data" -> schema,
            "tombstones" -> StructType(Seq(StructField("id", LongType))))))
        // model: seq → the live ids a read at that commit must see
        val model = new java.util.concurrent.ConcurrentHashMap[Int, Set[Long]]()
        model.put(0, Set.empty)
        val violations =
          new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        def liveAt(m: Map[String, String]): Set[Long] = {
          val data = IndexLayout.readFrame(spark, path, m, "data")
            .select("id").collect().map(_.getLong(0)).toSet
          val tomb = IndexLayout.loadTombstones(spark, path, m, "id")
            .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
          data -- tomb
        }
        val readers = (0 until 2).map { r =>
          val t = new Thread(() => {
            var lastSeq = -1
            while (!done.get()) {
              try {
                val m = IndexLayout.readManifest(spark, path).get
                val s = IndexLayout.seqOf(m)
                if (s < lastSeq)
                  violations.add(s"reader$r: seq regressed $lastSeq→$s")
                lastSeq = s
                val live = liveAt(m)
                val want = Option(model.get(s))
                if (!want.contains(live)) violations.add(
                  s"reader$r: at seq $s saw ${live.toSeq.sorted} " +
                    s"want ${want.map(_.toSeq.sorted)}")
              } catch { case e: Throwable =>
                violations.add(s"reader$r: read FAILED mid-maintenance: $e")
              }
            }
          })
          t.start(); t
        }
        // the writer: apply the schedule sequentially
        var nextId = 0L
        var appended = Set.empty[Long]   // committed data rows
        var tombstoned = Set.empty[Long]
        var crashedStage: Option[Seq[Long]] = None
        def freshIds(n: Int): Seq[Long] = {
          val ids = (nextId until nextId + n); nextId += n; ids
        }
        verbs.foreach { v =>
          val m = IndexLayout.readManifest(spark, path).get
          val seq = IndexLayout.seqOf(m)
          v match {
            case 'a' =>
              // the replay path: a crashed stage's rows are re-staged
              // under the CURRENT next seq (deterministic tag) — the
              // orphaned old root stays invisible until swept
              val ids = crashedStage.getOrElse(freshIds(4))
              crashedStage = None
              val staged = IndexLayout.stageAppendBatch(spark, path,
                "data", s"a${seq + 1}", rows(ids), Some("pv"))
              appended ++= ids
              model.put(seq + 1, appended -- tombstoned)
              staged.foreach(e =>
                IndexLayout.commitAppend(spark, path, m, Map("data" -> e)))
            case 'x' =>
              val ids = freshIds(4)
              IndexLayout.stageAppendBatch(spark, path, "data",
                s"a${seq + 1}", rows(ids), Some("pv"))
              crashedStage = Some(ids) // NO commit — a kill point
            case 'd' =>
              val live = (appended -- tombstoned).toSeq.sorted
              val doomed = live.take(live.size / 2)
              if (doomed.nonEmpty) {
                tombstoned ++= doomed
                model.put(seq + 1, appended -- tombstoned)
                IndexLayout.appendTombstones(spark, path, m,
                  doomed.toDF("id"), "id")
              }
            case 'k' | 'c' =>
              // through the real flip protocol; 'c' is a stage closure
              // that throws once its staging is written — crashed
              // before its flip
              val crash = new IllegalStateException("crashed before the flip")
              try IndexLayout.flipGeneration(spark, path, "graft-proptest") { _ =>
                Some { newGen =>
                  val tomb = IndexLayout.loadTombstones(spark, path, m, "id")
                    .map(_.distinct())
                    .getOrElse(IndexLayout.emptyIds(spark, m, "tombstones", "id"))
                  val staged = Map(
                    "data" -> IndexLayout.stageCompactFrame(spark, path, m,
                      "data", "pv", Seq(0L, 1L, 2L), tomb, "id", newGen))
                  if (v == 'c') throw crash
                  // the compaction resolves the tombstones physically;
                  // the LIVE set is unchanged by construction
                  appended --= tombstoned
                  tombstoned = Set.empty
                  model.put(seq + 1, appended)
                  IndexLayout.GenerationStage(staged, resolvesTombstones = true)
                }
              } catch { case e: IllegalStateException if e eq crash => () }
          }
        }
        done.set(true)
        readers.foreach(_.join(60000))
        // AS-OF IMMUTABILITY: after the whole schedule, every retained
        // commit still reads back exactly its recorded live set
        IndexLayout.availableManifestSeqs(spark, path).foreach { s =>
          val live = liveAt(IndexLayout.readManifestAt(spark, path, s))
          if (Option(model.get(s)) != Some(live))
            violations.add(s"as-of $s: ${live.toSeq.sorted} want " +
              s"${Option(model.get(s)).map(_.toSeq.sorted)}")
        }
        val vs = violations.asScala.toList
        if (vs.nonEmpty) System.err.println(
          s"[linz-prop] verbs=${verbs.mkString} violations:\n  " +
            vs.take(8).mkString("\n  "))
        vs.isEmpty
      } finally {
        grace0 match {
          case Some(g) => spark.conf.set(IndexLayout.RetiredGraceConfKey, g)
          case None => spark.conf.unset(IndexLayout.RetiredGraceConfKey)
        }
        org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      }
    }, n = 5)
  }

  test("property: lease generations are never reused — racing release/acquire cycles yield at most one owner at any instant, every grant a fresh generation") {
    import graft.ext.IndexLayout
    // the schedule the r18 protocol left open (found by review, pinned
    // here the way the reclaim property pinned the rename protocol):
    // release used to DELETE the highest generation file, so two racers
    // straddling a release could derive DIFFERENT claim targets from
    // their listings (one saw the emptied dir and claimed a REUSED low
    // generation, one got FileNotFound on the vanished gen and claimed
    // gen+1) — two successful create-exclusives on two different
    // names, two live owners. With release stamping its own file
    // released/ttl-0 (the monotonic high-water record) plus the
    // post-claim max re-verify, every racer converges on one name.
    // Invariants over racing full acquire→work→release cycles: the
    // critical section never holds two writers, and every granted
    // handle carries a generation never granted before.
    val caseGen = Gen.chooseNum(2, 4)
    check(Prop.forAll(caseGen) { nRaw =>
      import scala.jdk.CollectionConverters._
      val n = nRaw.max(2).min(4) // shrinker ignores chooseNum bounds
      val cyclesEach = 5
      val root = java.nio.file.Files.createTempDirectory("graft-lease-cycle")
      try {
        val path = s"$root/idx"
        val inCrit = new java.util.concurrent.atomic.AtomicInteger(0)
        val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
        val granted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
        val deadline = System.currentTimeMillis() + 60000
        val threads = (0 until n).map { _ =>
          val t = new Thread(() => {
            var done = 0
            while (done < cyclesEach && System.currentTimeMillis() < deadline) {
              try {
                val h = IndexLayout.acquireLease(spark, path, 60000L)
                if (inCrit.incrementAndGet() > 1) overlapped.set(true)
                granted.add(h.gen)
                Thread.sleep(1) // widen the overlap window
                inCrit.decrementAndGet()
                IndexLayout.releaseLease(spark, path, h)
                done += 1
              } catch {
                // lost the race (standing lease / kept losing claims):
                // back off and retry the cycle
                case _: IllegalStateException => Thread.sleep(1)
              }
            }
          })
          t.start(); t
        }
        threads.foreach(_.join(90000))
        val gens = granted.asScala.toList
        val ok = !overlapped.get() &&
          gens.size == n * cyclesEach &&      // nobody wedged or timed out
          gens.distinct.size == gens.size     // no generation ever reused
        if (!ok) System.err.println(s"[lease-cycle] n=$n " +
          s"overlapped=${overlapped.get()} grants=${gens.size} " +
          s"(want ${n * cyclesEach}) distinct=${gens.distinct.size}")
        ok
      } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }, n = 6)
  }

  test("property: TopKAggregator returns the top-k DISTINCT ids by best score (replayed duplicates never double-slot)") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(120, for {
      g <- Gen.chooseNum(0L, 2L)
      id <- Gen.chooseNum(0L, 15L)
      s <- Gen.chooseNum(0, 1000)
    } yield (g, id, s / 8.0))
    check(Prop.forAll(rowsGen) { rows =>
      rows.isEmpty || {
        val topk = udaf(new graft.functions.TopKAggregator(4))
        // feed DUPLICATED rows (the replayed-append shape) through both
        // a narrow and a wide shuffle so reduce AND merge paths run
        val df = (rows ++ rows.take(40)).toDF("g", "id", "s")
          .repartition(7)
        val got = df.groupBy("g").agg(topk(col("s"), col("id")).as("top"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
        val want = rows.groupBy(_._1).map { case (g, rs) =>
          g -> rs.groupBy(_._2).toList
            .map { case (id, xs) => (xs.map(_._3).max, id) }
            .sortBy { case (s, id) => (-s, id) }.take(4).map(_._2)
        }
        got == want
      }
    }, n = 12)
  }

  test("property: bottom-k sketch is EXACTLY merge-order independent and exact below k; set ops exact in the small regime, 10σ-bounded estimating") {
    // pure-JVM property (no Spark jobs): drive the aggregator's
    // reduce/merge/finish over RANDOM chunkings and merge orders — the
    // claim is STRONGER than the q-digest's (whose contents are
    // merge-tree state): bottomK(S) is a pure function of the set, so
    // the sketch must be BIT-IDENTICAL to bottom-k of the distinct
    // hashes under every schedule (the fact that lets s22 share g36's
    // oracle verbatim). Then the set-op estimator: exact when both
    // sides are below k; within the 10σ slack the query rows pin when
    // estimating.
    val k = 16
    val caseGen = for {
      nA <- Gen.chooseNum(1, 60)
      nB <- Gen.chooseNum(1, 60)
      overlap <- Gen.chooseNum(0, math.min(nA, nB))
      chunks <- Gen.chooseNum(1, 8)
      seed <- Gen.chooseNum(0L, 100000L)
    } yield (nA, nB, overlap, chunks, seed)
    check(Prop.forAll(caseGen) { case (nA, nB, overlap, chunks, seed) =>
      val agg = new graft.functions.ThetaSketchAggregator(k)
      // deterministic "hashes" from a seeded shuffle of distinct longs
      // (scrambled so unsigned order is non-trivial)
      val rnd = new scala.util.Random(seed)
      def h(x: Long): Long = {
        var z = x * 0x9E3779B97F4A7C15L + seed
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      }
      val a = (0 until nA).map(i => h(i.toLong))
      val b = (0 until nB).map(i => h((i + nA - overlap).toLong))
      // random chunking + random merge order of A's stream
      val shuffled = rnd.shuffle(a ++ a.take(rnd.nextInt(nA))) // dups too
      val parts = (0 until chunks).map(c =>
        shuffled.zipWithIndex.collect { case (v, i) if i % chunks == c => v })
      val partials = rnd.shuffle(parts.map(p =>
        p.foldLeft(agg.zero)(agg.reduce)))
      val merged = partials.reduceLeft(agg.merge)
      val sketchA = agg.finish(merged)
      val unsigned = Ordering.fromLessThan[Long](
        java.lang.Long.compareUnsigned(_, _) < 0)
      val wantA = a.distinct.sorted(unsigned).take(k)
      val orderOk = sketchA == wantA
      // set ops against B's one-shot sketch
      val sketchB = agg.finish(b.foldLeft(agg.zero)(agg.reduce))
      val (uEst, iEst, dEst) =
        graft.functions.Theta.setOps(sketchA, sketchB, k)
      val exactU = (a ++ b).distinct.size
      val exactI = a.toSet.intersect(b.toSet).size
      val exactD = a.toSet.diff(b.toSet).size
      val opsOk =
        if (a.distinct.size < k && b.distinct.size < k)
          uEst == exactU && iEst == exactI && dEst == exactD // EXACT
        else {
          val slack = math.max(10.0 * exactU / math.sqrt(k.toDouble), 8.0)
          math.abs(uEst - exactU) <= slack &&
            math.abs(iEst - exactI) <= slack &&
            math.abs(dEst - exactD) <= slack
        }
      orderOk && opsOk
    }, n = 60)
  }

  test("property: q-digest rank bound holds over random streams and random merge trees") {
    // pure-JVM property (no Spark jobs): drives the aggregator's
    // reduce/merge/finish exactly as a shuffle would, but over RANDOM
    // chunkings and RANDOM merge orders — the claim being pinned is
    // that the ε·n = m/k rank bound is a property of the summary, not
    // of any particular partitioning (the t35/s20 oracle's whole basis)
    val m = 10
    val k = 128
    val agg = new graft.functions.QDigestAggregator(k, m)
    val streamGen = for {
      n <- Gen.chooseNum(1, 3000)
      hot <- Gen.chooseNum(0L, 1023L)
      vals <- Gen.listOfN(n, Gen.frequency(
        (3, Gen.const(hot)),           // heavy spike
        (2, Gen.chooseNum(0L, 1023L)), // uniform tail
        (1, Gen.chooseNum(0L, 63L)))) // dense low cluster
      chunks <- Gen.chooseNum(1, 12)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (vals, chunks, seed)
    check(Prop.forAll(streamGen) { case (vals, chunks, seed) =>
      val rnd = new scala.util.Random(seed)
      val parts = rnd.shuffle(vals).grouped(
        math.max(1, vals.size / chunks)).toList
      val partials = parts.map(_.foldLeft(agg.zero)(agg.reduce))
      val digest = agg.finish(
        rnd.shuffle(partials).reduce(agg.merge))
      val n = vals.size.toLong
      val sorted = vals.sorted.toArray
      digest.valuesIterator.sum == n &&
        digest.size <= 3 * k &&
        Seq(1, 10, 50, 90, 99).forall { phi =>
          val est = graft.functions.QDigest.quantile(digest, m, phi.toLong, 100L)
          val target = (n * phi + 99) / 100
          val rankIncl = sorted.count(_ <= est).toLong
          val rankExcl = sorted.count(_ < est).toLong
          est >= 0 && est < 1024 &&
            rankIncl * k >= target * k - m.toLong * n &&
            rankExcl * k <= target * k + m.toLong * n
        }
    }, n = 60)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (i % 7L, i.toLong)).toDF("k", "v")
    val right = Seq((0L, "a"), (1L, "b"), (2L, "c"), (6L, "z")).toDF("k", "name")
    val plain = left.join(right, Seq("k"))
    val salted = Skew.saltedJoin(left, right, "k")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted.select(plain.columns.map(col): _*)).isEmpty)
  }
}
