package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.etl.MoodleNormalize
import graft.fixtures.Fixtures
import graft.queries.EtlQueries

/** Spans around the calls into each layer. [[NoSpans]] is the untraced
  * run: the same calls, no job groups, no listener.
  */
trait Spans {
  def span[A](name: String, op: Int)(f: => A): A
}
object NoSpans extends Spans {
  def span[A](name: String, op: Int)(f: => A): A = f
}

/** One timed operation: a surface query, or one step of the pipeline. */
final case class OpSample(name: String, pass: Int, ns: Long, failed: Boolean, wrong: Boolean,
                          traced: Boolean, activeJobsEnd: Int = 0, pinnedBytesEnd: Long = 0L)

/** The benchmark's JVM side: set up, warm, run passes in a closed loop
  * (one client thread) for the requested seconds, check every output,
  * and write one result file for the launcher (`perfbench/run.py`).
  *
  *   --workload surface_light|moodle_etl  --seed N  --seconds S  --trace 0|1
  *   --warm-passes K  --cores N  --data DIR  --work DIR  --out FILE  [--expected DIGESTS]
  *   [--crosscheck DIR]  write each surface output as parquet instead
  */
object Main {
  val SetupReps = 5

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val warmPassCount = arg("warm-passes").toInt
    val cores = arg("cores").toInt
    val data = Paths.get(arg("data")).toAbsolutePath
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      graft.sources.Tables.NanosFlag -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    def session(): SparkSession = {
      val s = confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.LogHygiene.quietBoundedWindowWarn()
      s
    }

    val wl: Workload = workload match {
      case "surface_light" => new Surface(Surface.Light, data, seed, Option(args.getOrElse("expected", null)))
      case "moodle_etl"    => new MoodleWorkload(data, work, seed)
      case other => sys.error(s"unknown workload $other")
    }

    args.get("crosscheck") match {
      case Some(outDir) =>
        val spark = session()
        wl.asInstanceOf[Surface].dump(spark, Paths.get(outDir))
        spark.stop()
        return
      case None =>
    }

    // set-up: session start plus a first result (the flagship roster
    // normalization on a small customer table), several times; the
    // median is the figure
    val setupNs = mutable.ArrayBuffer.empty[Long]
    var spark: SparkSession = null
    for (r <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark = session()
      MoodleNormalize(Fixtures.roster(spark, wl.smallCustomerDir), EtlQueries.Cfg).count()
      setupNs += System.nanoTime() - t0
      if (r < SetupReps - 1) spark.stop()
    }

    val samples = mutable.ArrayBuffer.empty[OpSample]
    val passNs = mutable.ArrayBuffer.empty[(Int, Boolean, Long)]
    // warm-up, untimed: the workload's own checks, a prime pass at full
    // size (codegen for the real plan shapes, page cache), then a fixed
    // number of plain passes. The JIT keeps compiling the engine's planning
    // paths for several passes, and passes timed on that slope spread from
    // run to run. A count, not a time, so that a slow host does not also
    // start timing earlier on the slope. Checked and counted, but not timed.
    val record: OpSample => Unit = s => samples.synchronized { samples += s; () }
    val verifyT0 = System.nanoTime()
    wl.verify(spark, record)
    val verifyNs = System.nanoTime() - verifyT0
    val primeT0 = System.nanoTime()
    wl.pass(spark, Workload.PrimePass, NoSpans, record)
    val primeNs = System.nanoTime() - primeT0
    for (i <- 0 until warmPassCount) wl.pass(spark, Workload.warmPass(i), NoSpans, record)
    val warmupNs = System.nanoTime() - verifyT0

    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs = gc.map(_.getCollectionTime).sum
    var trace: Trace = null
    var gcTracedMs = 0L
    val untracedSeconds = if (traced) seconds / 2 else seconds
    val start = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || passNs.count(_._2 == traced) == 0) {
      val tracing = traced && elapsed >= untracedSeconds
      if (tracing && trace == null) trace = new Trace(spark.sparkContext)
      val spans: Spans = if (tracing) trace else NoSpans
      val gc0 = gcMs
      val t0 = System.nanoTime()
      wl.pass(spark, pass, spans, s => samples += s.copy(traced = tracing))
      passNs += ((pass, tracing, System.nanoTime() - t0))
      if (tracing) gcTracedMs += gcMs - gc0
      pass += 1
    }
    if (trace != null) trace.close()

    val result = Report(workload, seed, seconds, traced, cores, confs, wl, setupNs.toSeq,
      samples.toSeq, Map("prime_pass_s" -> primeNs / 1e9, "warmup_s" -> warmupNs / 1e9,
        "warmup_passes" -> warmPassCount.toDouble, "verify_s" -> verifyNs / 1e9), passNs.toSeq, Option(trace), gcTracedMs)
    Files.writeString(Paths.get(arg("out")), result)
    spark.stop()
  }
}

object Workload {
  val PrimePass = -1
  val VerifyPass = -2
  /** The untimed passes between the prime pass and the timed ones. */
  def warmPass(i: Int): Int = -3 - i

  /** Apply `f` to every item on `threads` driver threads; with one thread,
    * in order on the caller's thread.
    */
  def each[A](items: Seq[A], threads: Int)(f: A => Unit): Unit =
    if (threads <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try items.map(a => pool.submit[Unit](() => f(a))).foreach(_.get())
      finally pool.shutdown()
    }
}

/** A workload: one pass over its operations, and its checks. */
trait Workload {
  /** A directory holding a small `customer.parquet`, for the set-up's
    * first result.
    */
  def smallCustomerDir: String
  def pass(spark: SparkSession, pass: Int, spans: Spans, record: OpSample => Unit): Unit
  def sizes: Map[String, Any]
  /** Checks run once before the timed passes, outside any timing. */
  def verify(spark: SparkSession, record: OpSample => Unit): Unit = ()
  /** Per-pass layer counters only this workload has (name → value). */
  def layerCounts: Map[String, Double] = Map.empty
  /** Extra facts for the result file. */
  def extra: Map[String, Any] = Map.empty
}

object Leak {
  /** Jobs still running and storage still pinned once an operation has
    * returned, read from outside the engine after the listener drained.
    */
  def guards(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.ListenerDrain(sc)
    (sc.statusTracker.getActiveJobIds().length,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}

/** The query surface: `SparkEntry.queries` by name at sf0.1, with the
  * committed digests of their results.
  */
final class Surface(names: Seq[String], data: Path, seed: Long, expectedFile: Option[String]) extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"no query $n")))
  private val rowsOnly = names.filterNot(SparkEntry.oracleSql.contains).toSet
  private val full = data.resolve("sf0.1").toString
  private val small = data.resolve("sf0.001").toString
  private val expected: Map[String, String] = expectedFile.map { f =>
    Files.readAllLines(Paths.get(f)).asScala.map(_.split("\t")).collect {
      case Array(n, d) => n -> d
    }.toMap
  }.getOrElse(Map.empty)
  names.filterNot(expected.contains).headOption.foreach { n =>
    if (expectedFile.isDefined) sys.error(s"no expected digest for $n")
  }

  def smallCustomerDir: String = small

  private def digestFrame(name: String, df: DataFrame): DataFrame =
    if (rowsOnly(name)) Digest.countFrame(df) else Digest.frame(df)

  private def expectedRows(name: String): Option[String] =
    expected.get(name).map(_.takeWhile(_ != ':'))

  private val opIds = new java.util.concurrent.atomic.AtomicInteger()
  /** Each operation is what `Dataset.count()` runs, split into its
    * construct / plan / execute spans; its row count is checked. The
    * untimed prime pass runs two queries at a time.
    */
  def pass(spark: SparkSession, pass: Int, spans: Spans, record: OpSample => Unit): Unit = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(fns)
    Workload.each(order, if (pass == Workload.PrimePass) 2 else 1) { case (name, fn) =>
      val op = opIds.incrementAndGet()
      val t0 = System.nanoTime()
      val got = try Right(spans.span(name, op) {
        val c = spans.span("construct", op)(fn(spark, full).groupBy().count())
        spans.span("plan", op)(c.queryExecution.executedPlan)
        spans.span("execute", op)(c.collect().head.getLong(0).toString)
      }) catch { case e: Exception => Left(e) }
      val ns = System.nanoTime() - t0
      check(name, got, expectedRows(name))
      val (jobs, pinned) = if (spans eq NoSpans) (0, 0L) else Leak.guards(spark)
      record(OpSample(name, pass, ns, got.isLeft, wrong(got, expectedRows(name)),
        traced = false, jobs, pinned))
    }
  }

  /** Before the timed passes, four queries at a time: every query's full
    * result digest against the committed one.
    */
  override def verify(spark: SparkSession, record: OpSample => Unit): Unit =
    Workload.each(fns, 4) { case (name, fn) =>
      val got = try Right(digestFrame(name, fn(spark, full)).collect().head.getString(0))
        catch { case e: Exception => Left(e) }
      check(name, got, expected.get(name))
      record(OpSample(name, Workload.VerifyPass, 0L, got.isLeft, wrong(got, expected.get(name)),
        traced = false))
    }

  private def wrong(got: Either[Exception, String], want: Option[String]): Boolean =
    got.exists(g => !want.contains(g))

  private def check(name: String, got: Either[Exception, String], want: Option[String]): Unit = {
    got.left.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
    if (wrong(got, want)) System.err.println(s"[perfbench] $name gave ${got.toOption.get}, expected $want")
  }

  def sizes: Map[String, Any] = Map("data" -> "sf0.1", "warmup_data" -> "sf0.001",
    "queries" -> names, "rows_only" -> names.filter(rowsOnly))

  /** Write every query's sf0.1 output as parquet plus its digest, for the
    * one-off DuckDB cross-check that vouches for the committed digests.
    */
  def dump(spark: SparkSession, out: Path): Unit = {
    Files.createDirectories(out)
    val lines = fns.map { case (name, fn) =>
      val df = fn(spark, full)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      s"$name\t${digestFrame(name, fn(spark, full)).collect().head.getString(0)}"
    }
    Files.writeString(out.resolve("digests.tsv"), lines.mkString("", "\n", "\n"))
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(oracle))
  }
}

object Surface {
  /** One query from each of the 22 query families, each on the fixed
    * per-query floor at sf0.1 (about 0.15-0.55 s on 4 cores): the time is
    * schema inference, planning and job launch, not data. Within a family
    * the pick is a floor query whose full result costs about what its
    * count does, so the untimed digest check stays short.
    */
  val Light: Seq[String] = Seq(
    "agg_salted",         // AdvancedQueries
    "journey_paths",      // AnalyticsQueries
    "gq_filter",          // CleanQueries
    "curriculum_order",   // CommunityQueries
    "bpe_pairs",          // CorpusQueries
    "moodle_normalize",   // EtlQueries
    "gini_source",        // ExperimentQueries
    "sample_stratified",  // ExtendedQueries
    "pareto_front",       // FrontierQueries
    "scd2_build",         // InsightQueries
    "orders_calendar",    // MiscQueries
    "repetition_ratio",   // PipelineQueries
    "rep_para",           // QualityQueries
    "agg_strings",        // RelationalQueries
    "doc_logprob",        // RetrievalQueries
    "label_centroids",    // ScaleQueries
    "decay_counts",       // SignalQueries
    "cms_rollup",         // SketchQueries
    "regex_extract",      // TextQueries
    "q13_custdist",       // TpchQueries
    "emb_health",         // TrainQueries
    "dp_release")         // WarehouseQueries
}

/** The paper's roster → CSV → enrolment upload → mail send pipeline. */
final class MoodleWorkload(data: Path, work: Path, seed: Long) extends Workload {
  private val full = data.resolve("roster")
  private val small = data.resolve("roster_small")
  private def rowsOf(dir: Path): Long =
    Files.readString(dir.resolve("ROWS")).trim.toLong
  private val rows = rowsOf(full)

  private var last: Moodle = null
  private var counts = Seq.empty[Moodle.Counts]
  private var failures = Seq.empty[(String, String)]

  def smallCustomerDir: String = small.toString

  def pass(spark: SparkSession, pass: Int, spans: Spans, record: OpSample => Unit): Unit = {
    val m = new Moodle(spark, full.toString, rows, work.resolve("pipeline"), seed)
    val done = mutable.ArrayBuffer.empty[(String, Long)]
    // one pass is one request: its steps share the pass's span id
    val op = pass + 1
    val checkFailures = try {
      spans.span("pass", op) {
        m.pass { name => body =>
          val t0 = System.nanoTime()
          spans.span(name, op)(body)
          done += name -> (System.nanoTime() - t0)
        }
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] pipeline pass $pass failed: $e")
        Seq("<aborted>" -> e.toString)
    }
    failures ++= checkFailures
    checkFailures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val bad = checkFailures.map(_._1).toSet
    // leak guards once per pass, charged to its last step
    val (jobs, pinned) = if (spans eq NoSpans) (0, 0L) else Leak.guards(spark)
    done.zipWithIndex.foreach { case ((name, ns), i) =>
      val last = i == done.size - 1
      record(OpSample(name, pass, ns, failed = false, wrong = bad(name), traced = false,
        if (last) jobs else 0, if (last) pinned else 0L))
    }
    // steps a failure cut off count as failed operations
    MoodleWorkload.Steps.drop(done.size).foreach(n =>
      record(OpSample(n, pass, 0L, failed = true, wrong = false, traced = false)))
    if (!(spans eq NoSpans)) counts :+= m.lastCounts
    last = m
  }

  def sizes: Map[String, Any] = Map("roster_rows" -> rows, "warmup_roster_rows" -> rowsOf(small),
    "courses" -> Moodle.Courses, "steps" -> MoodleWorkload.Steps)

  override def layerCounts: Map[String, Double] = {
    def per(f: Moodle.Counts => Double) = if (counts.isEmpty) 0.0 else counts.map(f).sum / counts.size
    Map(
      "etl.csv_bytes_per_row" -> per(c => c.csvBytes.toDouble / math.max(1, c.normalizedRows)),
      "send.smtp_msgs" -> per(_.delivered.toDouble),
      "send.api_calls" -> per(_.apiCalls.toDouble),
      "send.attempts_per_msg" -> per(c => c.smtpAttempts.toDouble / math.max(1, c.delivered)),
      "send.rerun_skip_ratio" -> per(c => c.rerunSkipped.toDouble / math.max(1, c.ledgerHalf)))
  }

  override def extra: Map[String, Any] = Map(
    "csv" -> Option(last).map(_.csvPath.toString).getOrElse(""),
    "oracle_sql" -> graft.oracle.Duck.moodleNormalizeSql(graft.queries.EtlQueries.Cfg),
    "check_failures" -> failures.map { case (s, w) => s"$s: $w" })
}

object MoodleWorkload {
  val Steps: Seq[String] = Seq("validate", "normalize", "csv_write", "enrol_plan", "api_upload",
    "mail_source", "render", "ordinals", "smtp_send", "ledger_write", "rerun")
}
