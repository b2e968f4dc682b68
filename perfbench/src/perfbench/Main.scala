package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** The measured JVM of the benchmark (started by `perfbench/run.py`, which
  * stages the inputs before and checks the outputs after).
  *
  * Load is one closed loop: one op at a time, each starting when the previous
  * one returns. Pass 0 runs in the fresh JVM (the cold pass). Then come
  * `--warmup` warm-up passes, and timed passes until these have run for
  * `--seconds`, at least `--min-timed` of them; with `--min-timed 0` the JVM
  * runs the cold pass only. Every op times its calls into the program
  * separately (build, plan, execute, and render for reports); between ops of
  * pass 1 the harness records each op's output for checking, outside the
  * timed calls.
  *
  * With `--trace 1` a [[Tracer]] counts Spark work on pass 0 and the even
  * warm passes; the odd warm passes run without it, so their wall time
  * against the traced passes' gives the tracing overhead.
  */
object Main {

  final case class OpOut(observed: Map[String, Any] = Map.empty,
                         df: Option[DataFrame] = None)

  trait Workload {
    def beforePass(pass: Int): Unit = ()
    def ops: Seq[(String, Clock => OpOut)]
    /** Untimed check of one op's output, run in the checked pass. */
    def check(op: String, out: OpOut): Map[String, Any]
    /** Bytes on disk under the roots the workload wrote. */
    def storeBytes: Long
  }

  /** Times the phases of one op and tags the Spark jobs each one starts. */
  final class Clock(spark: SparkSession, pass: Int, op: String) {
    val phases = mutable.LinkedHashMap[String, Double]()
    def apply[A](phase: String)(body: => A): A = {
      Tags.set(spark.sparkContext, pass, op, phase)
      val t0 = System.nanoTime()
      try body
      finally phases(phase) = phases.getOrElse(phase, 0.0) +
        (System.nanoTime() - t0) / 1e9
    }
  }

  /** The execute call: consume every row of the planned query, as a
    * no-op sink does, without planning it a second time. */
  object Sink {
    private val drainPartition: Iterator[InternalRow] => Unit =
      it => while (it.hasNext) it.next()
    def drain(df: DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition(drainPartition)
  }

  /** (exchanges, broadcast exchanges) in a query's final adaptive plan. */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var exchanges = 0
    var broadcasts = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case e =>
        e match {
          case _: BroadcastExchangeLike => exchanges += 1; broadcasts += 1
          case _: ShuffleExchangeLike => exchanges += 1
          case _ => ()
        }
        e.children.foreach(walk)
        e.subqueries.foreach(walk)
    }
    walk(plan)
    (exchanges, broadcasts)
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def fileCount(root: Path): Long =
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.count(Files.isRegularFile(_)).toLong
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { w =>
      w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  private def jvmCounters(): Map[String, Any] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> gc,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments come as --name value pairs")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k")
      k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val sc = spark.sparkContext

    val workload: Workload = workloadName match {
      case "etl_flow" => new EtlFlow(spark, work, a)
      case _ => new Catalog(spark, work, a)
    }
    val tracer = if (trace) Some(new Tracer) else None

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var jvmCold: Map[String, Any] = Map.empty
    val checkedPass = 1
    var firstOpMs = 0L
    val warmup = a("warmup").toInt
    val minTimed = a("min-timed").toInt
    var timedStart = 0L
    var pass = 0
    def timedElapsed = (System.nanoTime() - timedStart) / 1e9
    while (pass == 0 ||
        (minTimed > 0 && (pass <= warmup + minTimed || timedElapsed < seconds))) {
      if (pass == warmup + 1) timedStart = System.nanoTime()
      val traced = tracer.isDefined && pass % 2 == 0
      tracer.filter(_ => traced).foreach(sc.addSparkListener)
      workload.beforePass(pass)
      for ((name, body) <- workload.ops) {
        if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
        val clock = new Clock(spark, pass, name)
        val t0 = System.nanoTime()
        val result = try Right(body(clock)) catch { case e: Throwable => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        Tags.clear(sc)
        val observed = result match {
          case Right(out) if pass == checkedPass =>
            try out.observed ++ workload.check(name, out)
            catch { case e: Throwable => out.observed + ("error" -> s"check: $e") }
          case Right(out) => out.observed
          case Left(e) => Map("error" -> e.toString)
        }
        ops += Map("pass" -> pass, "op" -> name, "wall_s" -> wall,
          "phases" -> clock.phases, "observed" -> observed)
      }
      tracer.filter(_ => traced).foreach { t =>
        t.drain(sc)
        sc.removeSparkListener(t)
      }
      if (pass == 0) jvmCold = jvmCounters()
      passes += Map("pass" -> pass, "traced" -> traced,
        "timed" -> (pass > warmup), "store_bytes" -> workload.storeBytes)
      pass += 1
    }

    val traceRecords = tracer.toSeq.flatMap(_.records).map { case (k, c) =>
      Map("pass" -> k.pass, "op" -> k.op, "phase" -> k.phase,
        "module" -> k.module, "file" -> k.file, "jobs" -> c.jobs,
        "stages" -> c.stages, "one_task_stages" -> c.oneTaskStages,
        "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes,
        "input_bytes" -> c.inputBytes)
    }
    val result = Map(
      "workload" -> workloadName, "cores" -> cores,
      "session_ready_ms" -> sessionReadyMs, "first_op_ms" -> firstOpMs,
      "ops" -> ops, "passes" -> passes, "jvm_cold" -> jvmCold,
      "vindex_files" -> fileCount(work.resolve("target").resolve("graft_vindex")),
      "trace_records" -> traceRecords,
      "trace_jobs_total" -> tracer.map(_.jobsTotal).getOrElse(0L),
      "oracle_sql" -> (workload match {
        case c: Catalog => c.oracleSql
        case _ => Map.empty[String, String]
      }))
    val out = Paths.get(a("out"))
    val tmp = Paths.get(a("out") + ".tmp")
    Files.writeString(tmp, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result))
    Files.move(tmp, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
