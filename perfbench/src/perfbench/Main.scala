package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.GraftSession
import graft.ext.Dedup
import graft.ops.ReferenceEtl
import graft.sources.{CsvSink, LogSource}

/** One workload: a set-up, a job repeated in the timed window, the same
  * job split into one span per layer for the traced run, and what the
  * output checks need once the window closes. Jobs return the facts the
  * checks and metrics read, keyed by name. */
trait Workload {
  def setup(): Unit
  /** Timed jobs a run makes even when the window closes first. */
  def minJobs: Int = 3
  def hasNext: Boolean = true
  def job(i: Int): Map[String, Any]
  def traced(i: Int): Map[String, Any]
  /** Work the traced run does once after its traced jobs. */
  def tracedExtra: Option[() => Map[String, Any]] = None
  /** Bytes the program keeps on disk at the end of the window. */
  def storedBytes: Long
  /** Untimed work after the window whose output the checks read. */
  def finish(): Map[String, Any] = Map.empty
}

/** Entry point of the benchmark JVM:
  * `perfbench.Main <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *  <cores> [workload arguments]`. Writes `result.json` and `spans.json`
  * into `outDir`; the calling script checks outputs and reports metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, data, out, secondsArg, traceArg, coresArg, rest @ _*) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(coresArg.toInt, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer(spark, rec)
    val w: Workload = name match {
      case "etl_logs" => new EtlLogs(spark, tracer, data, out, rest(0), rest(1))
      case "index_serve" => new IndexServe(spark, tracer, data, out, rest(0).toInt)
      case "index_maintain" =>
        new IndexMaintain(spark, tracer, data, out, rest(0).toInt)
      case other => sys.error(s"unknown workload $other")
    }
    val (_, setupSpan) = tracer("setup")(w.setup())
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    def attempt(kind: String)(body: => Map[String, Any]): Map[String, Any] = {
      val before = tracer.spans.size
      val facts =
        try body
        catch { case NonFatal(e) => Map[String, Any]("error" -> e.toString) }
      // the job's root span is the first one it opened
      facts ++ Map("kind" -> kind, "span" -> tracer.spans.drop(before)
        .find(_.parent == -1).map(_.id).getOrElse(-1))
    }
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // untraced jobs fill the window, or its first half in a traced run,
    // which then runs traced jobs to compare against them
    val untracedUntil = if (trace) seconds / 2 else seconds
    while (w.hasNext && (elapsed < untracedUntil || jobs.size < (if (trace) 2 else w.minJobs))) {
      val i = jobs.size
      jobs += attempt("job")(tracer("job")(w.job(i))._1)
    }
    if (trace) {
      var n = 0
      while (w.hasNext && (elapsed < seconds || n < 2)) {
        val i = jobs.size
        jobs += attempt("traced")(w.traced(i))
        n += 1
      }
      jobs ++= w.tracedExtra.map(f => attempt("extra")(f()))
    }
    val stored = w.storedBytes
    val finish = w.finish()
    val result = Map(
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "setup_span" -> setupSpan.id, "cores" -> coresArg.toInt,
      "jobs" -> jobs, "stored_bytes" -> stored, "finish" -> finish)
    Files.createDirectories(Paths.get(out))
    writeString(Paths.get(out, "spans.json"), Json(tracer.spans.map(_.toMap)))
    writeString(Paths.get(out, "result.json"), Json(result))
    spark.stop()
  }

  def writeString(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  /** Bytes of every file under `dir`. */
  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def writeIds(path: String, ids: Seq[Long]): Unit =
    writeString(Paths.get(path), ids.sorted.mkString("", "\n", "\n"))

  /** Materialize a frame without keeping or writing its rows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** The reference's job, method 1: 30 daily JSONL files, one multi-path
  * scan, `ReferenceEtl.runFull`, one single-file CSV. */
final class EtlLogs(spark: SparkSession, tracer: Tracer, data: String,
    out: String, from: String, to: String) extends Workload {

  private def write(df: DataFrame, name: String): String = {
    val dir = s"$out/$name"
    CsvSink.writeSingle(df, dir)
    dir
  }

  /** Jobs speed up over the first few runs in a JVM while the JIT compiles
    * the scan and aggregation paths: three untimed jobs absorb that. */
  def setup(): Unit = (1 to 3).foreach(k =>
    tracer("setup.warmup")(write(ReferenceEtl.runFull(spark, data, from, to), s"csv-warmup-$k")))

  override def minJobs: Int = 5

  def job(i: Int): Map[String, Any] =
    Map("csv" -> write(ReferenceEtl.runFull(spark, data, from, to), s"csv-$i"))

  /** Each layer's span materializes the pipeline prefix that ends with
    * that layer (through the `noop` sink); the last span is the real job. */
  def traced(i: Int): Map[String, Any] = tracer("etl.traced") {
    val flat = LogSource.flattenSource(
      LogSource.readDays(spark, LogSource.datePaths(data, from, to)))
    tracer("sources.scan")(Main.noop(flat))
    val valid = ReferenceEtl.validRows(ReferenceEtl.categorize(flat))
    tracer("ops.categorize")(Main.noop(valid))
    val stats = ReferenceEtl.pivotDurations(ReferenceEtl.durationByCategory(valid))
    tracer("ops.aggregate_pivot")(Main.noop(stats))
    val joined = stats.join(ReferenceEtl.deviceCounts(flat), Seq("Contract"), "inner")
    tracer("ops.device_join")(Main.noop(joined))
    val full = ReferenceEtl.fullPipeline(flat)
    tracer("ops.enrich")(Main.noop(full))
    Map[String, Any]("csv" -> tracer("sources.csv_write")(write(full, s"csv-$i"))._1)
  }._1

  /** Method 2 once: one scan and pipeline per day file, unioned. */
  override def tracedExtra: Option[() => Map[String, Any]] = Some { () =>
    Map("csv" -> tracer("etl.method2")(
      write(ReferenceEtl.runPerDayUnion(spark, data, from, to), "csv-method2"))._1)
  }

  def storedBytes: Long = Main.duBytes(s"$out/csv-0")
}

/** Shared by both index workloads: the input documents, the MinHash index
  * built over the standing corpus, and the serve of one batch. */
abstract class IndexWorkload(spark: SparkSession, tracer: Tracer, data: String,
    out: String) extends Workload {
  val index = s"$out/index"
  var builtBytes = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def docs(file: String): DataFrame = spark.read.schema(docSchema).json(s"$data/$file")
  def ids(file: String): DataFrame = docs(file).select("doc_id")

  def build(): Unit = {
    tracer("setup.build")(Dedup.saveMinhashIndex(docs("corpus"), index))
    builtBytes = Main.duBytes(index)
  }

  def admittedIds(admitted: DataFrame): Seq[Long] =
    admitted.select(col("doc_id")).collect().map(_.getLong(0)).toSeq

  def storedBytes: Long = Main.duBytes(index)

  /** Batch `b` through `Dedup.nearDupIngestFromPath`; the admitted ids go
    * to a file for the checks. */
  def serve(b: Int, i: Int, frames: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : Map[String, Any] = {
    val ids = admittedIds(Dedup.nearDupIngestFromPath(spark, index,
      docs(s"batch-$b.json"), batchFrames = frames))
    val file = s"$out/admitted-$i.txt"
    Main.writeIds(file, ids)
    Map("batch" -> b, "admitted" -> file, "admitted_count" -> ids.size)
  }

  /** [[serve]] split into its layers: the manifest read, the batch's
    * signing (`Dedup.minhashIndexFrames`, held in memory) and the probe
    * with those frames. Then, outside the serve, the candidate pairs. */
  def tracedServe(b: Int, i: Int): Map[String, Any] = {
    val (frames, facts) = tracer("serve.traced") {
      tracer("ext.manifest")(Dedup.minhashIndexParams(spark, index))
      val frames = tracer("ext.sign") {
        val (bands, shingles, sizes) = Dedup.minhashIndexFrames(docs(s"batch-$b.json"))
        bands.persist().count()
        sizes.persist().count()
        (bands, shingles, sizes)
      }._1
      (frames, tracer("ext.probe")(serve(b, i, Some(frames)))._1)
    }._1
    val pairs = tracer("ext.candidates")(candidatePairs(frames._1))._1
    Seq(frames._1, frames._2, frames._3).foreach(_.unpersist())
    facts ++ Map("candidate_pairs" -> pairs, "index_bytes" -> storedBytes)
  }

  /** Distinct (batch doc, other doc) pairs sharing an LSH bucket key:
    * against the standing bands plus within the batch — the pairs the
    * probe verifies with exact Jaccard. */
  private def candidatePairs(bands: DataFrame): Long = {
    val standing = Dedup.loadMinhashIndex(spark, index)._1
    val a = bands.select(col("doc_id").as("a"), col("band"), col("sig"))
    val vsStanding = a
      .join(standing.select(col("doc_id").as("b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("a", "b").distinct().count()
    val withinBatch = a
      .join(a.withColumnRenamed("a", "b"), Seq("band", "sig"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    vsStanding + withinBatch
  }
}

/** The read path: one generated batch per job against the standing index.
  * Batch 0 warms up; the timed jobs cycle through the rest. */
final class IndexServe(spark: SparkSession, tracer: Tracer, data: String,
    out: String, batches: Int) extends IndexWorkload(spark, tracer, data, out) {
  private def batchOf(i: Int) = 1 + i % (batches - 1)

  def setup(): Unit = {
    build()
    tracer("setup.warmup")(serve(0, -1))
  }

  def job(i: Int): Map[String, Any] = serve(batchOf(i), i)

  def traced(i: Int): Map[String, Any] = tracedServe(batchOf(i), i)
}

/** The write path: one daily cycle per job — append the day's admitted
  * docs, take down as many standing docs, compact the tombstones. Cycle 0
  * warms up. The traced run also serves one batch, split by layer. */
final class IndexMaintain(spark: SparkSession, tracer: Tracer, data: String,
    out: String, cycles: Int) extends IndexWorkload(spark, tracer, data, out) {
  private var done = 0 // cycles run, the warm-up cycle included

  private def cycle(): Int = { val c = done; done += 1; c }

  def setup(): Unit = {
    build()
    tracer("setup.warmup")(job(-1))
  }

  override def hasNext: Boolean = done < cycles

  def job(i: Int): Map[String, Any] = {
    val c = cycle()
    Dedup.appendToMinhashIndex(docs(s"append-$c.json"), index)
    Dedup.deleteFromMinhashIndex(ids(s"delete-$c.json"), index)
    Dedup.compactMinhashTombstones(spark, index)
    Map("cycle" -> c)
  }

  def traced(i: Int): Map[String, Any] = {
    val c = cycle()
    tracer("maintain.traced") {
      tracer("ext.append")(Dedup.appendToMinhashIndex(docs(s"append-$c.json"), index))
      tracer("ext.delete")(Dedup.deleteFromMinhashIndex(ids(s"delete-$c.json"), index))
      tracer("ext.compact")(Dedup.compactMinhashTombstones(spark, index))
    }
    val m = Dedup.minhashIndexParams(spark, index)
    // the compaction stages the buckets it rewrites under the new generation
    val rewritten = Option(new java.io.File(s"$index/shingles/g${m("gen")}").listFiles())
      .getOrElse(Array.empty[java.io.File]).count(_.getName.startsWith("bucket="))
    val retired = m.getOrElse("retired", "").split(",").filter(_.nonEmpty)
      .map(e => Main.duBytes(s"$index/$e")).sum
    Map("cycle" -> c, "buckets_rewritten" -> rewritten, "buckets" -> m("buckets").toInt,
      "retired_bytes" -> retired, "index_bytes_built" -> builtBytes)
  }

  /** This JVM has not served yet: one untraced serve warms the read path. */
  override def tracedExtra: Option[() => Map[String, Any]] =
    Some { () => serve(2, -1); tracedServe(1, done) }

  /** Probe with copies of every taken-down and every appended doc, and
    * count the live docs. */
  override def finish(): Map[String, Any] = {
    val probe = (0 until done).map(c => docs(s"probe-$c.json")).reduce(_.union(_))
    val admitted = admittedIds(Dedup.nearDupIngestFromPath(spark, index, probe))
    val file = s"$out/probe-admitted.txt"
    Main.writeIds(file, admitted)
    val live = Dedup.loadMinhashIndex(spark, index)._3.count()
    Map("cycles" -> done, "probe_admitted" -> file, "live_docs" -> live)
  }
}

/** Just enough JSON for the result files: maps, sequences, strings,
  * booleans and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
