package perfbench

import java.nio.file.Path
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.Api
import graft.reports.ReportRender
import graft.sources.DaySource

import Main.{Clock, OpOut}

/** Catalog queries from `SparkEntry.queries`, in the order given. Each op
  * builds the query (`fn(spark, dir)`), plans it and executes it; the checked
  * pass collects each result and writes it as parquet for the oracle
  * comparison. State the stored-index queries keep lives under the working
  * directory, which `run.py` wipes before every run. */
final class Catalog(spark: SparkSession, work: Path, args: Map[String, String])
    extends Main.Workload {
  private val dir = args("data")
  private val names = args("ops").split(',').toSeq
  private val checkDir = work.resolve("check")
  private val roots = Seq(work.resolve("target").resolve("graft_vindex"),
    work.resolve("spark-warehouse"))

  names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))

  def oracleSql: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

  val ops: Seq[(String, Clock => OpOut)] = names.map { name =>
    val fn = SparkEntry.queries(name)
    name -> { (c: Clock) =>
      val df = c("build")(fn(spark, dir))
      c("plan")(df.queryExecution.executedPlan)
      c("exec")(Main.Sink.drain(df))
      OpOut(df = Some(df))
    }
  }

  def check(op: String, out: OpOut): Map[String, Any] = {
    val df = out.df.get
    val rows = df.collect()
    val (exchanges, broadcasts) = Main.planShape(df.queryExecution.executedPlan)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(checkDir.resolve(op).toString)
    Map("rows" -> rows.length.toLong, "exchanges" -> exchanges,
      "broadcasts" -> broadcasts)
  }

  def storeBytes: Long = roots.map(Main.dirBytes).sum
}

/** The paper's flows through the public API: ETL of staged day documents
  * (a cold load into empty stores, an identical re-run, a re-run over a
  * sparse mutation), progress and nutrition reports with their HTML and
  * PNG rendering for some users, then a backup. Every pass starts from
  * fresh store and backup roots. */
final class EtlFlow(spark: SparkSession, work: Path, args: Map[String, String])
    extends Main.Workload {
  private val base = args("corpus") + "/base"
  private val mutated = args("corpus") + "/mutated"
  private val users = args("users").split(',').toSeq
  private val from = args("from")
  private val to = args("to")
  private val today = LocalDate.parse(to).plusDays(1)
  private val passRoot = work.resolve("etl")
  private var api: Api = _
  private var root: Path = _

  override def beforePass(pass: Int): Unit = {
    Main.deleteTree(passRoot)
    root = passRoot.resolve(s"pass$pass")
    api = new Api(root.resolve("store").toString)(spark)
  }

  private def etl(path: String)(c: Clock): OpOut =
    OpOut(Map("changed" -> c("build")(api.runEtl(DaySource.readJsonl(spark, path)))))

  val ops: Seq[(String, Clock => OpOut)] =
    Seq("etl.load" -> etl(base) _, "etl.noop" -> etl(base) _,
      "etl.incr" -> etl(mutated) _) ++
    users.flatMap { u =>
      Seq(
        s"report.progress.$u" -> { (c: Clock) =>
          val df = c("build")(api.runProgressReport(u, from))
          c("plan")(df.queryExecution.executedPlan)
          val rows = c("exec")(df.collect())
          val (tableRows, html, png) = c("render") {
            val report = rows.map(r => ReportRender.ReportRow(r.getInt(0),
              r.getString(1), r.getInt(2), r.getInt(3),
              Option(r.get(4)).map(_ => r.getInt(4)), r.getInt(5))).toSeq
            val table = ReportRender.prepareNutritionTable(report, 7, today)
            val bar = ReportRender.progressBarData(table, 150000L)
            (table.size, ReportRender.renderHtml(u, table, bar, today),
              bar.map(ReportRender.renderChartPng(_)))
          }
          OpOut(Map("rows" -> rows.length.toLong,
            "calories_targets" -> rows.map(_.getInt(2).toLong).distinct.sorted.toSeq,
            "table_rows" -> tableRows, "html_chars" -> html.length.toLong,
            "png_bytes" -> png.map(_.length.toLong).getOrElse(0L)))
        },
        s"report.nutrition.$u" -> { (c: Clock) =>
          val df = c("build")(api.runNutritionReport(u, from, to))
          c("plan")(df.queryExecution.executedPlan)
          OpOut(Map("rows" -> c("exec")(df.collect()).length.toLong))
        })
    } :+
    ("backup" -> { (c: Clock) =>
      val backups = root.resolve("backup")
      c("build")(api.runBackup(backups.toString, today))
      OpOut(Map("snapshots" -> backups.toFile.list().toSeq.sorted,
        "backup_bytes" -> Main.dirBytes(backups)))
    })

  def check(op: String, out: OpOut): Map[String, Any] = op match {
    case "etl.incr" =>
      Map("raw_days" -> api.store.read("RawDayData").count(),
        "water_bumped" -> api.store.read("Water")
          .where(col("quantity") % 100 =!= 0).count())
    case _ => Map.empty
  }

  def storeBytes: Long = Main.dirBytes(root)
}
