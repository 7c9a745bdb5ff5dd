package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Hooks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.v2.GraftStore

/** One timed operation: `construct` builds the program's frames through its
  * public entry points and returns the action that executes them. */
final case class Op(name: String, construct: () => (() => Unit))

/** A workload: its frozen op list, what runs untimed before each op, the
  * correctness pass and checks, and optional traced-only measurements. */
trait Workload {
  def ops: IndexedSeq[Op]
  /** The op order of one pass; the seed's generator decides it. */
  def order(rng: scala.util.Random): Seq[Op] = rng.shuffle(ops)
  def beforeOp(): Unit = ()
  /** Untimed pass that leaves outputs for the correctness checks;
    * returns its failures. */
  def correctnessPass(order: Seq[Op]): Seq[Failure] = Nil
  /** Checks that run inside the JVM after the timed passes; returns
    * (checks made, failures). */
  def checks(): (Int, Seq[Failure]) = (0, Nil)
  /** Untimed passes after the correctness pass. */
  def warmPasses: Int
  /** Timed passes a run makes even when `--seconds` runs out first. */
  def minTimedPasses: Int
  /** Traced-run extras: per-layer figures measured outside the passes. */
  def tracedExtras(): Map[String, Double] = Map.empty
}

final case class Failure(op: String, phase: String, cls: String, message: String)

object Failure {
  def of(op: String, phase: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq.last
    Failure(op, phase, e.getClass.getName,
      Option(e.getMessage).getOrElse("") +
        (if (root ne e) s" [root: ${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")}]" else ""))
  }
}

/** The run record's JSON: ordered maps, sequences and scalars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)
  def write(path: String, value: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(value))
  def line(value: Any): String = mapper.writeValueAsString(value)
}

final case class OpRun(name: String, s: Double, ok: Boolean, layers: Option[OpLayers])
final case class PassRun(index: Int, traced: Boolean, wallS: Double, ops: Seq[OpRun])

/** Closed-loop benchmark client: one thread, one `local[cpus]` session
  * configured like `graft.Bench`, each op a full-result write to Spark's
  * `noop` sink. Writes one JSON record; `run.py` turns it into metrics. */
object Runner {
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.customCostEvaluatorClass", "graft.plans.GraftCostEvaluator")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap after a forced GC, and block-manager storage in use. The
    * pause lets Spark's context cleaner drop blocks of collected frames. */
  def retained(spark: SparkSession): (Long, Long) = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory(),
      spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val genS = new Array[Double](1)
    val wl: Workload = workload match {
      case "adhoc_warm" =>
        new QueryWorkload(spark, a("data"), a("ops").split(",").toIndexedSeq, s"$work/out")
      case "museum_etl" => new EtlWorkload(spark, seed, a("objects").toInt, work, genS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // `--warm` overrides the workload's warm-up count (the class-data
    // dump run, which only needs every class loaded once, passes 0)
    val warmPasses = a.get("warm").map(_.toInt).getOrElse(wl.warmPasses)
    val rng = new scala.util.Random(seed)
    val tracer = new Tracer
    val failures = mutable.ArrayBuffer.empty[Failure]
    var opSeq = 0L

    def counters(): Array[Long] = Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      GraftStore.segmentsRead.get, GraftStore.segmentsSkipped.get)

    def runOp(op: Op, traced: Boolean, pass: Int): (OpRun, Option[() => OpLayers]) = {
      wl.beforeOp()
      opSeq += 1
      val id = opSeq
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(Tracer.TagKey, s"$id:construct")
      val baseUs = System.currentTimeMillis() * 1000L
      val baseNs = System.nanoTime()
      def us(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
      var consEnd = baseNs
      val before = if (traced) counters() else null
      val ok = try {
        val exec = op.construct()
        consEnd = System.nanoTime()
        if (traced) sc.setLocalProperty(Tracer.TagKey, s"$id:execute")
        exec()
        true
      } catch {
        case NonFatal(e) =>
          failures += Failure.of(op.name, s"pass$pass", e)
          false
      } finally sc.setLocalProperty(Tracer.TagKey, null)
      val end = System.nanoTime()
      // layers are assembled after the pass, once the listener bus is drained
      val layers = if (traced) {
        val after = counters()
        val (startUs, consUs, endUs) = (us(baseNs), us(consEnd), us(end))
        Some(() => OpLayers.of(tracer, id, op.name, startUs, consUs, endUs).copy(
          codegenCompiles = after(0) - before(0), segmentsRead = after(1) - before(1),
          segmentsSkipped = after(2) - before(2)))
      } else None
      (OpRun(op.name, (end - baseNs) / 1e9, ok, None), layers)
    }

    def runPass(i: Int, traced: Boolean, order: Seq[Op]): PassRun = {
      if (traced) Hooks.attach(spark, tracer)
      val p0 = System.nanoTime()
      val runs = try order.map(op => runOp(op, traced, i))
                 finally if (traced) Hooks.detach(spark, tracer)
      val wallS = (System.nanoTime() - p0) / 1e9
      val ops = runs.map { case (run, layers) => run.copy(layers = layers.map(_.apply())) }
      tracer.clear()
      PassRun(i, traced, wallS, ops)
    }

    // ---- set-up: correctness pass, then a fixed number of warm-up passes
    // (a fixed count keeps set-up and retained memory comparable between
    // runs; the record keeps each warm-up pass time, so drift shows). Set-up
    // runs the ops in list order: what stays on the heap depends on which
    // ops ran last, so a seeded order here made retained memory bimodal.
    // Retained memory is taken before the last warm-up pass, which then
    // absorbs the forced GC's disturbance; its pause is not set-up time.
    failures ++= wl.correctnessPass(wl.ops)
    var gcS = 0.0
    var heapB, storageB = 0L
    val warm = (1 to warmPasses).map { i =>
      if (i == warmPasses) {
        val g0 = System.nanoTime()
        val (h, st) = retained(spark)
        heapB = h
        storageB = st
        gcS = (System.nanoTime() - g0) / 1e9
      }
      runPass(-i, traced = false, wl.ops).wallS
    }
    val setupS = (System.nanoTime() - t0) / 1e9 - genS(0) - gcS

    // ---- timed passes. A traced run orders them untraced, traced,
    // traced, untraced (and repeats), so that a drift over the run cancels
    // out of the traced-minus-untraced overhead.
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val m0 = System.nanoTime()
    val minPasses = if (trace) 4 else wl.minTimedPasses
    while (passes.size < minPasses || (System.nanoTime() - m0) / 1e9 < seconds)
      passes += runPass(passes.size, traced = trace && Set(1, 2).contains(passes.size % 4),
        wl.order(rng))
    val measuredS = (System.nanoTime() - m0) / 1e9

    val (made, broken) = wl.checks()
    failures ++= broken
    val extras = if (trace) wl.tracedExtras() else Map.empty[String, Double]

    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val rec = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "context" -> Json.obj(
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "cpus" -> cpus,
        "session_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1)
          .filter(kv => kv._1.startsWith("spark.sql") || kv._1 == "spark.master"): _*)),
      "setup_s" -> setupS, "input_gen_s" -> genS(0), "warm_passes" -> warm.toSeq,
      "measured_s" -> measuredS,
      "retained_heap_mb" -> heapB / 1048576.0, "retained_storage_mb" -> storageB / 1048576.0,
      "codegen_compiles_total" -> codegen,
      "op_names" -> wl.ops.map(_.name), "checks_made" -> made,
      "failures" -> failures.toSeq.map(f => Json.obj("op" -> f.op, "phase" -> f.phase,
        "class" -> f.cls, "message" -> f.message)),
      "passes" -> passes.toSeq.map(p => Json.obj("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "ops" -> p.ops.map(o => Json.obj("name" -> o.name, "s" -> o.s,
          "ok" -> o.ok) ++ o.layers.map(Layers.json).getOrElse(Json.obj())))),
      "extras" -> extras)
    Json.write(a("out"), rec)
    if (trace) Files.write(Paths.get(a("spans")), passes.filter(_.traced).flatMap(_.ops)
      .flatMap(_.layers).flatMap(_.spans).map(s => Json.obj("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
      .map(Json.line).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}

object Layers {
  def json(l: OpLayers): ListMap[String, Any] = Json.obj(
    "construct_s" -> l.constructS, "construct_jobs" -> l.constructJobs, "exec_s" -> l.execS,
    "analysis_s" -> l.phaseS.getOrElse("analysis", 0.0),
    "optimization_s" -> l.phaseS.getOrElse("optimization", 0.0),
    "planning_s" -> l.phaseS.getOrElse("planning", 0.0),
    "exec_jobs" -> l.execJobs, "stages" -> l.stages, "tasks" -> l.tasks,
    "single_task_stages" -> l.singleTaskStages, "task_run_s" -> l.taskRunS, "gc_s" -> l.gcS,
    "failed_tasks" -> l.failedTasks, "shuffle_write_b" -> l.shuffleWriteB,
    "shuffle_read_b" -> l.shuffleReadB, "spill_b" -> l.spillB, "peak_mem_b" -> l.peakMemB,
    "self_time_gap" -> OpLayers.selfTimeGap(l.spans), "codegen_compiles" -> l.codegenCompiles,
    "segments_read" -> l.segmentsRead, "segments_skipped" -> l.segmentsSkipped)
}

/** Registered queries by name, at one data directory. */
final class QueryWorkload(spark: SparkSession, data: String, names: IndexedSeq[String],
                          out: String) extends Workload {
  private val registry = graft.SparkEntry.queries
  val ops: IndexedSeq[Op] = names.map { n =>
    val build = registry.getOrElse(n, throw new IllegalArgumentException(s"no query $n"))
    Op(n, () => {
      val df: DataFrame = build(spark, data)
      () => df.write.format("noop").mode("overwrite").save()
    })
  }
  override def beforeOp(): Unit = spark.catalog.clearCache()
  override def correctnessPass(order: Seq[Op]): Seq[Failure] = {
    val oracle = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(out))
    Json.write(s"$out/oracle_sql.json", ListMap(names.filter(oracle.contains).map(n => n -> oracle(n)): _*))
    order.flatMap { op =>
      beforeOp()
      try {
        registry(op.name)(spark, data).write.mode("overwrite").parquet(s"$out/${op.name}")
        None
      } catch { case NonFatal(e) => Some(Failure.of(op.name, "correctness", e)) }
    }
  }
  def warmPasses: Int = 3
  def minTimedPasses: Int = 2
}

/** The museum ETL: `MuseumPipeline.run` over seeded MET-shaped inputs,
  * all five output tables written into the disk-backed graft-store, then
  * `artwork_metadata` read back through the connector with a pushed
  * filter. Ops: one store write per table, and the read. */
final class EtlWorkload(spark: SparkSession, seed: Long, objects: Int, work: String,
                        genS: Array[Double]) extends Workload {
  import graft.pipeline.MuseumPipeline

  private val inputDir = s"$work/museum_in"
  private val storeDir = s"$work/store"
  private val inputs: MuseumInputs = {
    val g0 = System.nanoTime()
    val in = Museum.generate(seed, objects)
    Museum.write(spark, in, inputDir)
    genS(0) = (System.nanoTime() - g0) / 1e9
    in
  }
  private val maxDownloads = inputs.objects.size
  private val readCut = inputs.objects.map(_.objectId).sorted.apply(inputs.objects.size / 4)

  private def pipeline(): Map[String, DataFrame] =
    MuseumPipeline.run(spark, graft.sources.ApiSource.readObjects(spark, inputDir),
      graft.sources.ApiSource.readImages(spark, inputDir), maxDownloads)

  val ops: IndexedSeq[Op] = Museum.Tables.map { case (table, key) =>
    Op(s"write:$table", () => {
      val df = pipeline()(table)
      () => GraftStore.loadDisk(table, df, key, 4, storeDir)
    })
  }.toIndexedSeq :+ Op("read:artwork_metadata", () => {
    val df = Museum.readStore(spark, "artwork_metadata").filter(col("object_id") < readCut)
    () => df.write.format("noop").mode("overwrite").save()
  })

  /** Writes come before the read in every pass; only the order among
    * the five writes varies. */
  override def order(rng: scala.util.Random): Seq[Op] = rng.shuffle(ops.init) :+ ops.last
  override def checks(): (Int, Seq[Failure]) =
    try {
      val (made, broken) = Museum.check(spark, inputs)
      (made, broken.map { case (c, m) => Failure("museum_etl", s"check:$c", "InvariantViolated", m) })
    } catch { case NonFatal(e) => (1, Seq(Failure.of("museum_etl", "check", e))) }
  def warmPasses: Int = 2
  def minTimedPasses: Int = 1

  /** Stage-by-stage attribution: each pipeline stage runs on its
    * predecessor's materialized output and is timed while it materializes
    * its own; then the per-image kernel on one thread. */
  override def tracedExtras(): Map[String, Double] = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      held += p
      p
    }
    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t) / 1e9)
    }
    try {
      val ((meta, files, chunks), ingestS) = timed {
        val (m, f, c) = MuseumPipeline.ingest(graft.sources.ApiSource.readObjects(spark, inputDir),
          graft.sources.ApiSource.readImages(spark, inputDir), maxDownloads)
        (mat(m), mat(f), mat(c))
      }
      val (cleaned, cleanS) = timed(mat(MuseumPipeline.clean(meta)))
      val ((kept, keptFiles, keptChunks), dedupS) = timed {
        val (k, v) = MuseumPipeline.dedup(cleaned)
        val (kf, kc) = MuseumPipeline.deleteFiles(files, chunks, v.select("gridfs_file_id"))
        (mat(k), mat(kf), mat(kc))
      }
      val ((updated, tFiles, tChunks), transformS) = timed {
        val (u, f, c) = MuseumPipeline.transform(kept, keptFiles, keptChunks)
        (mat(u), mat(f), mat(c))
      }
      val (labeled, splitS) = timed(mat(MuseumPipeline.split(updated)))
      val attrDir = s"$work/store_attr"
      val (_, writeS) = timed {
        Seq(labeled, keptFiles, keptChunks, tFiles, tChunks).zip(Museum.Tables).foreach {
          case (df, (table, key)) => GraftStore.loadDisk(s"attr_$table", df, key, 4, attrDir)
        }
      }
      val writeMb = Files.walk(Paths.get(attrDir)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum / 1048576.0
      val decodable = inputs.images.filter(i => i._3 == 200 && Museum.decodes(i._2)).map(_._2)
      val kernelMs = decodable.map { b =>
        val t = System.nanoTime()
        graft.functions.ImageOps.transformImageBytes(b)
        (System.nanoTime() - t) / 1e6
      }.sorted
      Map("etl.ingest_s" -> ingestS, "etl.clean_s" -> cleanS, "etl.dedup_s" -> dedupS,
        "etl.transform_s" -> transformS, "etl.split_s" -> splitS, "etl.write_s" -> writeS,
        "etl.image_kernel_ms" -> kernelMs(kernelMs.size / 2),
        "etl.images_kept_frac" -> tFiles.count().toDouble / math.max(1L, files.count()),
        "etl.chunks_written" -> (keptChunks.count() + tChunks.count()).toDouble,
        "store.write_s" -> writeS, "store.write_mb" -> writeMb)
    } finally held.foreach(_.unpersist(blocking = true))
  }
}
