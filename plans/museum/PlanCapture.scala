import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.Hooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.MuseumPipeline
import graft.sources.ApiSource
import graft.sources.v2.GraftStore
import perfbench.{Museum, Runner}

/** Writes the executed plan, Spark jobs and stages of each of the five
  * `museum_etl` store writes, after two warm-up passes, as
  * `<outDir>/<table>_<tag>.txt` (paths under the work directory shown as
  * `<work>`), plus `<outDir>/summary_<tag>.txt`.
  * See README.md beside this file for how to compile and run it. */
object PlanCapture {
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer.empty[Int]
    val stageTasks = mutable.ArrayBuffer.empty[Int]
    val queries = mutable.ArrayBuffer.empty[(String, QueryExecution)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.jobId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageTasks += e.stageInfo.numTasks }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { queries += (f -> qe) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    def clear(): Unit = synchronized { jobs.clear(); stageTasks.clear(); queries.clear() }
  }

  def main(argv: Array[String]): Unit = {
    val Array(work, outDir, tag) = argv
    val workPath = Paths.get(work).toAbsolutePath.normalize.toString
    val spark = Runner.session(4, work)
    val inputs = Museum.generate(11, 12)
    val inputDir = s"$work/museum_in"
    Museum.write(spark, inputs, inputDir)
    def pipeline() = MuseumPipeline.run(spark, ApiSource.readObjects(spark, inputDir),
      ApiSource.readImages(spark, inputDir), inputs.objects.size)
    def write(table: String, key: String, df: org.apache.spark.sql.DataFrame): Unit =
      GraftStore.loadDisk(table, df, key, 4, s"$work/store")
    for (_ <- 1 to 2; (table, key) <- Museum.Tables) write(table, key, pipeline()(table))

    val rec = new Recorder
    Hooks.attach(spark, rec)
    Files.createDirectories(Paths.get(outDir))
    val summary = Museum.Tables.map { case (table, key) =>
      Hooks.drain(spark); rec.clear()
      val df = pipeline()(table)
      Hooks.drain(spark)
      val (constructJobs, constructStages) = (rec.jobs.size, rec.stageTasks.size)
      rec.clear()
      write(table, key, df)
      Hooks.drain(spark)
      val head = s"# write:$table  construct.jobs=$constructJobs  jobs=${rec.jobs.size}  " +
        s"stages=${rec.stageTasks.size}  single_task_stages=${rec.stageTasks.count(_ == 1)}"
      val plans = rec.queries.map { case (f, qe) =>
        s"## $f\n${qe.explainString(FormattedMode)}".replace(workPath, "<work>") }
      Files.write(Paths.get(s"$outDir/${table}_$tag.txt"),
        (head +: plans).mkString("\n\n").getBytes("UTF-8"))
      (head, constructJobs + rec.jobs.size, constructStages + rec.stageTasks.size)
    }
    val total = s"# pass, construction included: jobs=${summary.map(_._2).sum} stages=${summary.map(_._3).sum}"
    val (made, failed) = Museum.check(spark, inputs)
    val text = (summary.map(_._1) :+ total :+
      s"# checks: $made made, ${failed.size} failed ${failed.mkString(" ")}").mkString("", "\n", "\n")
    Files.write(Paths.get(s"$outDir/summary_$tag.txt"), text.getBytes("UTF-8"))
    print(text)
    Hooks.detach(spark, rec)
    spark.stop()
  }
}
