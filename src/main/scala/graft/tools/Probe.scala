package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Session, SparkEntry}

/** Dev probe over registered queries, on the sf dir in
  * `SPARK_GRAFT_SF_DIR` (default sf0.1, as in Bench):
  *
  *  - `time`: a warm pass, then the min of 3 timed `count()` passes.
  *  - `jobs`: one warm and one measured `count()`, with per-job wall time,
  *    stage and task counts and summed executor task time — separating
  *    driver/scheduling fixed cost from compute.
  *  - `plan`: formatted physical plans (a query whose plan fails to build
  *    prints its error and the probe moves on).
  *  - `stages`: the report rows of a composite query (c01, c02, c08) and
  *    its wall time.
  *
  * With no names, `stages` probes the composites and the other modes every
  * registered query.
  *
  * usage: sbt "runMain graft.tools.Probe <time|jobs|plan|stages> [name...]"
  */
object Probe {
  private val Composites =
    Seq("c01_corpus_curate", "c02_crawl_curate", "c08_crawl_loop")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "jobs", "plan", "stages")(mode),
      "usage: Probe <time|jobs|plan|stages> [name...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.queries
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else if (mode == "stages") Composites
      else queries.keys.toSeq.sorted
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = Session.local(Session.cpus)
    // warm the JVM/codegen paths so the first query doesn't absorb the
    // session's initialization
    spark.range(1000000).selectExpr("sum(id)").collect()
    val probe: (String, () => DataFrame) => Unit = mode match {
      case "time" => time(spark)
      case "jobs" => jobs(spark)
      case "plan" => plan
      case "stages" => stages
    }
    names.foreach { n =>
      probe(n, () => queries(n)(spark, sfDir))
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time(spark: SparkSession)(n: String, q: () => DataFrame): Unit = {
    q().count(); spark.catalog.clearCache()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      q().count()
      val s = secsSince(t0)
      spark.catalog.clearCache(); s
    }
    println(f"[probe] $n%-28s min=${times.min}%.3f  passes=${times.map(t => f"$t%.3f").mkString(",")}")
  }

  private final case class JobAgg(start: Long, site: String, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskTimeMs: Long = 0L)

  private def jobs(spark: SparkSession): (String, () => DataFrame) => Unit = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val a = JobAgg(e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""))
        jobs.put(e.jobId, a)
        e.stageIds.foreach(s => byStage.put(s, a))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val a = jobs.get(e.jobId); if (a != null) a.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val a = byStage.get(e.stageInfo.stageId)
        if (a != null) {
          a.stages += 1
          a.tasks += e.stageInfo.numTasks
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = byStage.get(e.stageId)
        if (a != null && e.taskInfo != null)
          a.taskTimeMs += e.taskInfo.duration
      }
    })
    (n, q) => {
      q().count(); spark.catalog.clearCache() // warm
      jobs.clear(); byStage.clear()
      collecting = true
      val t0 = System.nanoTime()
      q().count()
      val wall = secsSince(t0)
      collecting = false
      Thread.sleep(500) // let the listener bus drain
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val totJobWall = js.map(j => (j._2.end - j._2.start) / 1e3).sum
      val totTask = js.map(_._2.taskTimeMs).sum / 1e3
      println(f"[probe] $n wall=$wall%.2fs jobs=${js.size} " +
        f"jobWallSum=$totJobWall%.2fs taskTimeSum=$totTask%.2fs " +
        f"stages=${js.map(_._2.stages).sum} tasks=${js.map(_._2.tasks).sum}")
      js.foreach { case (id, a) =>
        println(f"[probe]   job $id%3d wall=${(a.end - a.start) / 1e3}%6.2fs " +
          f"stages=${a.stages}%2d tasks=${a.tasks}%4d taskTime=${a.taskTimeMs / 1e3}%6.2fs  ${a.site}")
      }
    }
  }

  private def plan(n: String, q: () => DataFrame): Unit = {
    val text = try q().queryExecution.explainString(FormattedMode)
      catch { case e: Throwable => s"ERROR building plan: ${e.getMessage}\n" }
    println(s"\n===== $n =====")
    println(text)
  }

  private def stages(n: String, q: () => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val df = q()
    require(Seq("stage_idx", "stage", "rows", "secs").forall(df.columns.contains),
      s"$n has no stage report (stage_idx, stage, rows, secs)")
    val rows = df.collect()
    val wall = secsSince(t0)
    val batched = df.columns.contains("batch_id")
    rows.foreach { r =>
      val batch = if (batched) s"b${r.getAs[Int]("batch_id")} " else ""
      println(f"[probe] $n $batch${r.getAs[Int]("stage_idx")}%2d " +
        f"${r.getAs[String]("stage")}%-18s rows=${r.getAs[Long]("rows")}%-7d " +
        f"${r.getAs[Double]("secs")}%7.2fs")
    }
    println(f"[probe] $n total $wall%.1f s")
  }
}
