package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import perfbench.Stats.Span

/** Span recorder plus a SparkListener that attributes every job, stage
  * and task to the span that launched it. Each span runs under its own
  * job group, and Spark copies the group into the properties of every
  * job started on that thread (and on threads it spawns), so the
  * listener can map job → group → span without touching engine code.
  *
  * Spans stay in memory; [[Trace.spans]] hands them out when the run
  * ends. The untraced run never builds one of these.
  */
final class Trace(sc: SparkContext) extends Spans {
  import Trace._

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil

  private val jobs   = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // the final stage's name is the job's call site, `<method> at <file>:<line>`
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.put(e.jobId, JobRec(prop("spark.jobGroup.id"), callSite,
        prop("spark.sql.execution.id").nonEmpty, e.time, -1L))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(e.stageInfo.stageId).numTasks = e.stageInfo.numTasks
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val a = acc(e.stageId)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
  sc.addSparkListener(listener)

  private def acc(stageId: Int): StageAcc =
    stages.computeIfAbsent(stageId, _ => new StageAcc)

  /** Run `f` as a span named `name` of operation `op`, under its own job
    * group; nested calls become child spans.
    */
  def span[A](name: String, op: Int)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption
    stack = id :: stack
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      recorded += Span(id, name, parent, op, t0, t1)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p), "", interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = recorded.toSeq

  /** Stop listening; counters read afterwards are final. */
  def close(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
  }

  /** Jobs launched under each span id, with their stages' task totals. */
  def jobsBySpan: Map[Int, Seq[JobStats]] = {
    val byJob = stages.asScala.toSeq.groupBy { case (s, _) => Option(stageJob.get(s)) }
    jobs.asScala.toSeq.flatMap { case (jobId, j) =>
      spanOf(j.group).map { sid =>
        val st = byJob.getOrElse(Some(jobId), Nil).map(_._2)
        sid -> JobStats(jobId, j.callSite, j.sqlExecution,
          if (j.endMs >= 0) j.endMs - j.startMs else 0L, st.map(_.snapshot))
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

object Trace {
  private val GroupPrefix = "perfbench-span-"
  private def groupOf(id: Int): String = GroupPrefix + id
  private def spanOf(group: String): Option[Int] =
    if (group.startsWith(GroupPrefix)) group.drop(GroupPrefix.length).toIntOption else None

  private final case class JobRec(group: String, callSite: String, sqlExecution: Boolean,
                                  startMs: Long, endMs: Long)

  private final class StageAcc {
    @volatile var numTasks = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    def snapshot: StageStats = synchronized {
      StageStats(numTasks, tasks, runMs, cpuNs, shuffleWriteBytes, spillBytes, inputBytes)
    }
  }

  final case class StageStats(numTasks: Int, tasks: Long, runMs: Long, cpuNs: Long,
                              shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long)

  final case class JobStats(jobId: Int, callSite: String, sqlExecution: Boolean, durMs: Long,
                            stages: Seq[StageStats]) {
    /** A schema-inference job a source read starts (`parquet at …`,
      * `csv at …`) outside any SQL execution; a write through the same
      * method runs inside one.
      */
    def isSchemaJob: Boolean = !sqlExecution && SchemaCallSite.findPrefixOf(callSite).isDefined
  }

  private val SchemaCallSite = "(parquet|csv|json|orc|text) at ".r
}
