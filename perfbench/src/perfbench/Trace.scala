package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts Spark work from outside the program.
  *
  * Every job, stage and task is assigned to a span (pass, op, phase) through
  * the local properties [[Tags]] sets before each call into the program, and
  * to a module through the innermost `graft.` frame of the call site Spark
  * records in the job's result-stage details. Jobs Spark starts from its own
  * threads (broadcasts, subqueries) carry no program frame; they take the
  * module of the SQL execution they belong to, whose start event records the
  * call site of the action. A job without span properties (a thread the
  * properties did not reach) is counted under `untagged`; a job with no
  * program frame either way (the harness's own execute call) has module `-`.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val byKey = mutable.LinkedHashMap[Key, Counters]()
  private val stageKey = mutable.HashMap[Int, Key]()
  private val stageModule = mutable.HashMap[Int, (String, String)]()
  private val executionModule = mutable.HashMap[String, (String, String)]()
  @volatile private var marker: CountDownLatch = new CountDownLatch(0)
  private var jobsSeen = 0L

  private def counters(k: Key): Counters = byKey.getOrElseUpdate(k, new Counters)

  private def keyOf(props: java.util.Properties, module: (String, String)): Key = {
    def p(n: String) = Option(props).flatMap(x => Option(x.getProperty(n)))
    (p(Tags.Pass), p(Tags.Op), p(Tags.Phase)) match {
      case (Some(pass), Some(op), Some(phase)) =>
        Key(pass.toInt, op, phase, module._1, module._2)
      case _ => Key(-1, Untagged, Untagged, module._1, module._2)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (isMarker(e.properties)) return
    jobsSeen += 1
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val module = result.map(s => moduleOf(s.details)).filter(_ != NoModule)
      .orElse(Option(e.properties).flatMap(p => Option(p.getProperty(ExecutionId))
        .flatMap(executionModule.get)))
      .getOrElse(NoModule)
    e.stageIds.foreach(stageModule(_) = module)
    counters(keyOf(e.properties, module)).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionModule(s.executionId.toString) = moduleOf(s.details)
    }
    case _ => ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (isMarker(e.properties)) {
      marker.countDown()
      return
    }
    val info = e.stageInfo
    val k = keyOf(e.properties, stageModule.getOrElse(info.stageId, NoModule))
    stageKey(info.stageId) = k
    val c = counters(k)
    c.stages += 1
    if (info.numTasks == 1) c.oneTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Returns once every event posted before the call has been delivered:
    * the listener bus is FIFO, so a marker stage seen here comes after
    * them. */
  def drain(sc: SparkContext): Unit = {
    marker = new CountDownLatch(1)
    val saved = Tags.save(sc)
    sc.setLocalProperty(Tags.Phase, MarkerPhase)
    try sc.parallelize(Seq(1), 1).count()
    finally Tags.restore(sc, saved)
    require(marker.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def records: Seq[(Key, Counters)] = synchronized(byKey.toSeq)

  /** Every job seen, counted apart from the per-span counters. */
  def jobsTotal: Long = synchronized(jobsSeen)
}

object Tracer {
  val Untagged = "untagged"
  val MarkerPhase = "marker"
  val NoModule: (String, String) = ("-", "-")
  private val ExecutionId = "spark.sql.execution.id"

  final case class Key(pass: Int, op: String, phase: String,
                       module: String, file: String)

  final class Counters {
    var jobs = 0L; var stages = 0L; var oneTaskStages = 0L; var tasks = 0L
    var taskMs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
    var outputBytes = 0L; var inputBytes = 0L
  }

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty(Tags.Phase) == MarkerPhase

  private val Frame = """graft\.(?:([a-z]+)\.)?[A-Za-z0-9_$.]+\(([A-Za-z0-9_]+)\.scala""".r

  /** (package, source file) of the innermost program frame of a call site;
    * a frame of a top-level `graft` object has package `graft`. */
  def moduleOf(details: String): (String, String) =
    details.split('\n').iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && Frame.findPrefixOf(l).isDefined =>
        val m = Frame.findPrefixMatchOf(l).get
        (Option(m.group(1)).getOrElse("graft"), m.group(2))
    }.getOrElse(NoModule)
}

/** The local properties that name the span of every job the next call
  * launches. */
object Tags {
  val Pass = "perfbench.pass"
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  private val all = Seq(Pass, Op, Phase)

  def set(sc: SparkContext, pass: Int, op: String, phase: String): Unit = {
    sc.setLocalProperty(Pass, pass.toString)
    sc.setLocalProperty(Op, op)
    sc.setLocalProperty(Phase, phase)
    sc.setJobDescription(s"$op/$phase (pass $pass)")
  }

  def clear(sc: SparkContext): Unit = {
    all.foreach(sc.setLocalProperty(_, null))
    sc.setJobDescription(null)
  }

  def save(sc: SparkContext): Seq[String] = all.map(sc.getLocalProperty)

  def restore(sc: SparkContext, saved: Seq[String]): Unit =
    all.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
}
