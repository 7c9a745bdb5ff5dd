package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Fixtures, MuseumPipeline}
import graft.sources.ApiSource

/** The fused fresh-ingest `run` against the step functions it fuses:
  * same tables, one image scan and at most one kernel call per output,
  * and no Spark job while the frames are built. */
class PipelineFusionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The reference composition: every E1→E2 step chained literally. */
  def stepwise(objects: DataFrame, images: DataFrame, maxDownloads: Int): Map[String, DataFrame] = {
    val (metadata0, files, chunks) = MuseumPipeline.ingest(objects, images, maxDownloads)
    val (kept, victims) = MuseumPipeline.dedup(MuseumPipeline.clean(metadata0))
    val (keptFiles, keptChunks) =
      MuseumPipeline.deleteFiles(files, chunks, victims.select("gridfs_file_id"))
    val (withLineage, tFiles, tChunks) = MuseumPipeline.transform(kept, keptFiles, keptChunks)
    Map(
      "artwork_metadata" -> MuseumPipeline.split(withLineage),
      "fs_files" -> keptFiles, "fs_chunks" -> keptChunks,
      "fs_transformed_files" -> tFiles, "fs_transformed_chunks" -> tChunks)
  }

  /** Every table equal as a multiset of rows, with equal schemas, except
    * the per-query timestamps. */
  def assertSameTables(fused: Map[String, DataFrame], steps: Map[String, DataFrame]): Unit = {
    assert(fused.keySet == steps.keySet)
    for (name <- steps.keys) {
      val a = fused(name).drop("created_at", "uploadDate")
      val b = steps(name).drop("created_at", "uploadDate")
      assert(a.schema == b.schema, s"$name schema")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$name rows")
      assert(a.count() > 0, s"$name is empty")
    }
  }

  lazy val sourceDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("fusion_src").toString
    ApiSource.writeObjects(Fixtures.metObjects(spark), dir)
    ApiSource.writeImages(Fixtures.images(spark), dir)
    dir
  }

  test("run equals the stepwise composition on the fixtures") {
    val (objects, images) = (Fixtures.metObjects(spark), Fixtures.images(spark))
    assertSameTables(MuseumPipeline.run(spark, objects, images), stepwise(objects, images, 20))
  }

  test("run equals the stepwise composition on the 200-artwork inputs") {
    val scale = new PipelineScaleSpec
    assertSameTables(MuseumPipeline.run(spark, scale.objects, scale.images, maxDownloads = 200),
      stepwise(scale.objects, scale.images, 200))
  }

  test("each output's executed plan scans the images once and calls the image kernel at most once") {
    val out = MuseumPipeline.run(spark,
      ApiSource.readObjects(spark, sourceDir), ApiSource.readImages(spark, sourceDir))
    out.foreach { case (name, df) =>
      val nodes = SparkTestSession.collectExec(df) { case p => p }
      val imageScans = nodes.count {
        case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.getName == "images")
        case _ => false
      }
      val kernelCalls = nodes.map(_.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("transformImage") => u
      }.size).sum).sum
      assert(imageScans == 1, s"$name scans the images $imageScans times")
      // the raw bucket never decodes; the lineage and both transformed
      // tables each need the kernel's result once
      val wantCalls = if (Set("fs_files", "fs_chunks").contains(name)) 0 else 1
      assert(kernelCalls == wantCalls, s"$name calls the image kernel $kernelCalls times")
    }
  }

  test("building the pipeline over file-backed sources launches no Spark job") {
    val dir = sourceDir
    assert(ApiSource.readImages(spark, dir).schema == spark.read.parquet(s"$dir/images").schema)
    val sc = spark.sparkContext
    val (group, marker) = ("fusion-spec-build", "fusion-spec-marker")
    val started = new AtomicInteger
    @volatile var markerSeen = false
    // only jobs started from this thread carry the group: a stray
    // background query elsewhere in the JVM is not counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (p.getProperty("spark.job.description") == marker) markerSeen = true
        else if (p.getProperty("spark.jobGroup.id") == group) started.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "building the museum pipeline")
      try {
        MuseumPipeline.run(spark, ApiSource.readObjects(spark, dir), ApiSource.readImages(spark, dir))
        // the listener bus delivers in order: once the marker job is seen,
        // every job started while building has been counted
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      assert(started.get == 0, s"${started.get} jobs while building")
    } finally sc.removeSparkListener(listener)
  }
}
