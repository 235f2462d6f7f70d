package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.etl.{EnrolPlan, MailSource, MoodleCsvSink, MoodleNormalize, RenderMail, RosterValidate}
import graft.fixtures.Fixtures
import graft.queries.EtlQueries
import graft.send._

/** Recording fakes for the two delivery seams. Spark runs tasks in this
  * JVM (`local[N]`), so partitions deliver into one shared registry that
  * the driver inspects after the action; a fresh registry per step keeps
  * a rerun's deliveries apart from the first send's.
  */
object Recording {
  final class Registry extends Serializable {
    val delivered = new ConcurrentHashMap[Long, AtomicLong]()
    val attempts  = new AtomicLong()
    def deliver(key: Long): Unit =
      delivered.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()
  }

  private val registries = new ConcurrentHashMap[String, Registry]()
  def open(name: String): Registry = {
    val r = new Registry
    registries.put(name, r)
    r
  }
  def get(name: String): Registry = registries.get(name)

  /** True for about one message in a hundred: its first attempt fails,
    * the retry succeeds. Derived from (seed, key) so every run of a seed
    * fails the same messages.
    */
  def transientFailure(seed: Long, key: Long): Boolean =
    java.lang.Long.remainderUnsigned(mix(seed * 0x9E3779B97F4A7C15L + key), 100L) == 0L

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  final class Transport(registry: String, seed: Long) extends MailTransport {
    private val failedOnce = scala.collection.mutable.HashSet.empty[Long]
    def send(m: OutgoingMail): Unit = {
      val r = get(registry)
      r.attempts.incrementAndGet()
      if (transientFailure(seed, m.idx) && failedOnce.add(m.idx))
        throw new java.io.IOException(s"transient failure for message ${m.idx}")
      r.deliver(m.idx)
    }
  }

  /** Counts calls; the upload's own result rows say what landed. */
  final class Api(registry: String) extends MoodleApi {
    def upsertUser(a: EnrolAction): Unit = { get(registry).attempts.incrementAndGet(); () }
    def enrol(a: EnrolAction): Unit = { get(registry).attempts.incrementAndGet(); () }
  }

  def transports(registry: String, seed: Long): TransportFactory =
    new TransportFactory { def create(): MailTransport = new Transport(registry, seed) }
  def apis(registry: String): MoodleApiFactory =
    new MoodleApiFactory { def create(): MoodleApi = new Api(registry) }
}

/** The paper's pipeline, roster to sent ledger, over one generated roster
  * (`customer.parquet` and `enrolments.parquet` in `dir`, written by the
  * benchmark's input generator). Each step materializes its output, so a
  * step's time is its own work and not a later step's recomputation.
  */
final class Moodle(spark: SparkSession, dir: String, rows: Long, work: Path, seed: Long) {
  import spark.implicits._
  import Moodle._

  private val policy = SendPolicy(maxRetries = 3, backoffMillisPerAttempt = 0L, throttleMillis = 0L)
  private val courses = (0 until Courses).map(c => (c.toLong, s"Curso $c"))
    .toDF("course_id", "course")
  private def custkey = split(col("rut"), "-").getItem(0).cast("long")

  val csvPath: Path = work.resolve("moodle.csv")
  private val ledgerPath = work.resolve("ledger").toString

  /** Run the steps in order through `step(name)(body)`; return the
    * failed checks, each keyed by the step it belongs to.
    */
  def pass(step: String => (=> Any) => Unit): Seq[(String, String)] = {
    val failures = Seq.newBuilder[(String, String)]
    def check(stepName: String, ok: Boolean, what: => String): Unit =
      if (!ok) failures += stepName -> what
    val pinned = Seq.newBuilder[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = {
      pinned += ds
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    }
    // three quarters of an even share per course, so every pass plans
    // both `enrolled` and `waitlist` seats
    val capacity = math.max(1L, rows / Courses * 3 / 4)
    var validated: DataFrame = null
    var normalized: DataFrame = null
    var normalizedRows = 0L
    var actions: Dataset[EnrolAction] = null
    var mails: Dataset[OutgoingMail] = null
    var planned = 0L
    var sent: Dataset[SendResult] = null
    try {
      step("validate") {
        validated = keep(RosterValidate(Fixtures.rosterDirty(spark, dir)))
        validated.count()
      }
      step("normalize") {
        normalized = keep(MoodleNormalize(Fixtures.roster(spark, dir), EtlQueries.Cfg))
        normalizedRows = normalized.count()
      }
      step("csv_write") { MoodleCsvSink.write(normalized, csvPath.toString) }
      check("csv_write", csvHeaderAndRows(csvPath) == (CsvHeader, normalizedRows),
        s"csv header/rows ${csvHeaderAndRows(csvPath)} != ($CsvHeader, $normalizedRows)")
      step("enrol_plan") {
        val plan = EnrolPlan(validated, custkey % Courses, spark.read.parquet(s"$dir/enrolments.parquet"),
          custkey, courses.withColumn("capacity", lit(capacity)))
        actions = keep(plan.filter(col("status") === "enrolled")
          .select(col("course_id"), col("seat"), col("username"), col("email"), col("rut"))
          .as[EnrolAction])
        actions.count()
      }
      Recording.open("api")
      var apiFailed = -1L
      step("api_upload") {
        apiFailed = MoodleApiSink.uploadAll(actions, Recording.apis("api"), policy)
          .filter(col("status") =!= "enrolled").count()
      }
      check("api_upload", apiFailed == 0, s"$apiFailed enrolment actions failed")
      var users: DataFrame = null
      step("mail_source") {
        users = keep(MailSource.normalize(MailSource.readCsv(spark, csvPath.toString)))
        users.count()
      }
      var rendered: DataFrame = null
      step("render") {
        rendered = keep(RenderMail(users, EtlQueries.CourseName, EtlQueries.AulaUrl))
        rendered.count()
      }
      step("ordinals") {
        mails = keep(SmtpSink.withOrdinals(rendered, "contrasena")
          .select("idx", "total", "email", "nombre", "subject", "plain_body", "html_body")
          .as[OutgoingMail])
        planned = mails.count()
      }
      val smtp = Recording.open("smtp")
      step("smtp_send") {
        sent = keep(SmtpSink.sendAll(mails, Recording.transports("smtp", seed), policy))
        sent.count()
      }
      val terminal = sent.filter(col("status") =!= "sent").count()
      check("smtp_send", terminal == 0, s"$terminal terminal send failures")
      check("smtp_send", exactlyOnce(smtp, 1L to planned),
        s"recipients delivered ${smtp.delivered.size} of $planned, or some twice")
      step("ledger_write") {
        sent.filter(col("status") === "sent").write.mode("overwrite").parquet(ledgerPath)
      }
      val rerun = Recording.open("rerun")
      var halfRows = 0L
      step("rerun") {
        val half = spark.read.parquet(ledgerPath).filter(col("idx") % 2 === 0)
        halfRows = half.count()
        SmtpSink.sendAllDeduped(mails, Recording.transports("rerun", seed), half,
          keyCol = "idx", policy = policy).count()
      }
      check("rerun", exactlyOnce(rerun, (1L to planned).filter(_ % 2 == 1)),
        s"rerun delivered ${rerun.delivered.size}, expected the ${planned - halfRows} unsent")
      lastCounts = Counts(normalizedRows, planned, smtp.delivered.size.toLong,
        smtp.attempts.get, Recording.get("api").attempts.get,
        planned - rerun.delivered.size, halfRows, Files.size(csvPath))
    } finally pinned.result().foreach(_.unpersist(blocking = true))
    failures.result()
  }

  @volatile var lastCounts: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0)

  private def exactlyOnce(r: Recording.Registry, keys: Seq[Long]): Boolean =
    r.delivered.size == keys.size && keys.forall(k => Option(r.delivered.get(k)).exists(_.get == 1L))
}

object Moodle {
  val Courses = 7
  val CsvHeader = "username,password,firstname,lastname,email,profile_field_rut,type1,course1"

  /** Per-pass counts the send layer reports. */
  final case class Counts(normalizedRows: Long, planned: Long, delivered: Long, smtpAttempts: Long,
                          apiCalls: Long, rerunSkipped: Long, ledgerHalf: Long, csvBytes: Long)

  def csvHeaderAndRows(p: Path): (String, Long) = {
    val lines = Files.lines(p)
    try {
      val it = lines.iterator()
      val header = if (it.hasNext) it.next() else ""
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      (header, n)
    } finally lines.close()
  }
}
