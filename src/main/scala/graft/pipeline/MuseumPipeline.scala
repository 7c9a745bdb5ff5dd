package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ImageOps
import graft.operators.{Chunking, Relational}

/** The reference's full ETL (E1 ingest → E2 transform/curate,
  * /root/reference/src/etl_museum_gridfs.py) re-expressed as lazy
  * DataFrame transforms. Every pass is a pure function over immutable
  * snapshot tables — the reference's point updates/deletes
  * (transform_load.py:34-43,62-70,116-119,135-142) become recompute +
  * overwrite, per SURVEY.md §7.4.
  *
  * Two surfaces. [[run]] is the fused fresh-ingest path: the orchestrator
  * runs each pass once, so `run` builds the fetch funnel once, keeps the
  * first row per object once, and projects all five tables from that one
  * kept frame — no victim blobs are written and then deleted, and no
  * blob is chunked only to be reassembled. The step functions
  * ([[ingest]], [[clean]], [[dedup]], [[deleteFiles]], [[transform]],
  * [[split]]) are the re-run surface over stored tables (F4 idempotency
  * lives in [[transform]]); chained in order they equal [[run]] on every
  * column but the timestamps. Both surfaces share the fetch funnel, the
  * P1 metadata projection and the transformed-blob projection.
  *
  * Scale posture: no driver-side materialization anywhere (the reference
  * does `list(find({}))` twice — transform_load.py:25,76), and building
  * the frames launches no Spark job; image bytes stay executor-side. In
  * [[run]] every output reads the image source once, keep-first runs on
  * the L1 top-k (which arrives as one partition, so the window adds no
  * shuffle), the kernel runs once per kept row, and the raw bytes go
  * straight from the fetch into the GridFS chunk split. The steps add the anti-joins, the semi-join and
  * the chunk reassembly (one shuffle on `files_id`) a re-run over stored
  * tables needs.
  */
object MuseumPipeline {

  /** Fields subject to the C1 "NA" clean (transform_load.py:23). Note
    * `department` is deliberately absent — the reference doesn't clean it. */
  val FieldsToClean: Seq[String] = Seq("artist", "culture", "period", "object_date", "medium")

  /** Deterministic 24-hex id in ObjectId format (X3). The reference uses
    * `str(ObjectId())` (ingestion.py:60); we derive from the business key
    * so re-runs and tests are reproducible. */
  def hexId(seed: Column): Column =
    substring(md5(seed.cast("string")), 1, 24)

  /** F1–F3, F6, L1 and the derived ids: the fetched rows, one per
    * ingested blob, with `gridfs_file_id`, the metadata `__meta_id` and
    * `created_at` beside the API columns and the fetched `bytes`. */
  private def fetch(objects: DataFrame, images: DataFrame, maxDownloads: Int): DataFrame = {
    // The reference mints a fresh ObjectId per ingested row
    // (ingestion.py:60); we derive from (objectID, primaryImage) so the
    // id is deterministic yet distinct for duplicate objectIDs arriving
    // via different URLs. The seed stays an expression, not a column:
    // both ids reading a seed column would keep two projections under
    // the limit, and Catalyst then plans the sort+limit as a global sort.
    val seed = concat(col("objectID").cast("string"), lit("|"), col("primaryImage"))
    objects
      .filter(col("status") === 200)                                     // F1
      .filter(length(trim(coalesce(col("primaryImage"), lit("")))) > 0)  // F2 (Python truthiness: "" excluded)
      .join(images.filter(col("status") === 200),                        // F3 via inner join
        col("primaryImage") === col("url"), "inner")
      .filter(col("bytes").isNotNull)                                    // F6: failed download drops row
      // L1: filter-then-limit. Ordered first: limit on an unordered frame
      // picks an arbitrary subset (varies with partitioning/AQE), which
      // would undercut the deterministic derived ids below. Catalyst plans
      // sort+limit as TakeOrderedAndProject (per-partition top-k + merge),
      // not a global sort. The reference's sequential loop is id-ordered
      // too (ingestion.py:38).
      .orderBy(col("objectID"), col("primaryImage"))
      .limit(maxDownloads)
      .withColumn("gridfs_file_id", hexId(seed))
      .withColumn("__meta_id", hexId(concat(seed, lit("_meta"))))
      .withColumn("created_at", current_timestamp())                     // X2
  }

  /** K1 input: the fetched blobs as `(_id, filename, data)`. */
  private def rawBlobs(fetched: DataFrame): DataFrame = fetched.select(
    col("gridfs_file_id").as("_id"),
    concat(col("objectID").cast("string"), lit(".jpg")).as("filename"),   // X1 (ingestion.py:65)
    col("bytes").as("data"))

  /** P1 (ingestion.py:70-83): fetched rows → `artwork_metadata` rows with
    * the given lineage and no split label yet. */
  private def metadataOf(fetched: DataFrame, lineage: Column): DataFrame = fetched.select(
    col("__meta_id").as("_id"),
    col("__meta_id").as("doc_id"),
    col("objectID").cast("long").as("object_id"),
    col("title"),
    col("artistDisplayName").as("artist"),
    col("department"),
    col("culture"),
    col("period"),
    col("objectDate").as("object_date"),
    col("medium"),
    lit("The MET Museum API").as("source"),                               // constant-folded literal
    col("gridfs_file_id"),
    col("created_at"),
    lineage.as("transformed_gridfs_file_id"),
    lit(null).cast("string").as("split"))

  /** Id of an object's transformed blob. */
  private def transformedId(objectId: Column): Column =
    hexId(concat(objectId, lit("_transformed")))

  /** I1–I4 + K5 input: `(_id, filename, data)` of the transformed blob of
    * every row whose bytes decode (F6: the rest are dropped), plus `keep`.
    * The kernel runs once per row. A plain `filter(isNotNull)` on its
    * result would be pushed below the projection that computes it, with
    * the call inlined — twice per row; a filter on a generator's output
    * stays above the generator, so the one-element explode holds it. */
  private def transformedBlobs(rows: DataFrame, objectId: Column, bytes: Column,
                               keep: Column*): DataFrame =
    rows.select(keep ++ Seq(
      transformedId(objectId).as("_id"),
      concat(objectId.cast("string"), lit("_transformed.jpg")).as("filename"), // transform_load.py:108
      explode(array(ImageOps.transformImage(bytes))).as("data")): _*)
      .filter(col("data").isNotNull)                                      // F6: undecodable ⇒ dropped

  /** E1 — ingest (ingestion.py:23-98).
    *
    * @param objects MET-API-shaped rows: objectID, title, artistDisplayName,
    *                department, culture, period, objectDate, medium,
    *                primaryImage, status (FIXTURES.md A4; HTTP layer is a
    *                local fixture in the zero-egress env)
    * @param images  (url, bytes, status) fetch results
    * @param maxDownloads L1 early-stop — applied AFTER the success
    *                filters, matching the reference's count-successes loop
    * @return (artwork_metadata, fs_files, fs_chunks)
    */
  def ingest(objects: DataFrame, images: DataFrame, maxDownloads: Int = 20)
      : (DataFrame, DataFrame, DataFrame) = {
    val fetched = fetch(objects, images, maxDownloads)
    val (files, chunks) = Chunking.gridfsPut(rawBlobs(fetched))           // K1
    (metadataOf(fetched, lit(null).cast("string")), files, chunks)        // K2: caller writes
  }

  /** E2 pass 1 — C1 clean (transform_load.py:21-43): one vectorized
    * select replaces the reference's N+1 update loop. */
  def clean(metadata: DataFrame): DataFrame =
    Relational.cleanNa(metadata, FieldsToClean)

  /** E2 pass 2 — dedup (transform_load.py:45-72): keep-first per
    * object_id with the deterministic (created_at, _id) tiebreak the
    * reference lacks (SURVEY §0.3). Returns (kept, victims); victims
    * drive the GridFS delete (K4) via [[deleteFiles]]. */
  def dedup(metadata: DataFrame): (DataFrame, DataFrame) = {
    val kept = Relational.keepFirst(metadata, Seq("object_id"),
      Seq(col("created_at"), col("_id")))
    val victims = metadata.join(kept.select("_id"), Seq("_id"), "left_anti")
    (kept, victims)
  }

  /** K4 — delete a victim set's blobs from a GridFS bucket by anti-join. */
  def deleteFiles(files: DataFrame, chunks: DataFrame, victimFileIds: DataFrame)
      : (DataFrame, DataFrame) = {
    val keptFiles = files.join(victimFileIds.withColumnRenamed(victimFileIds.columns.head, "__vid"),
      col("_id") === col("__vid"), "left_anti")
    val keptChunks = chunks.join(keptFiles.select(col("_id").as("__fid")),
      col("files_id") === col("__fid"), "left_semi")
    (keptFiles, keptChunks)
  }

  /** E2 pass 3 — transform (transform_load.py:74-125).
    *
    * F4 idempotency + F5 FK-present filters, J1/J2 joins, A3 reassembly,
    * I1–I4 image UDF (failure ⇒ row dropped, F6), K5 transformed-bucket
    * put, K6 lineage update.
    * @return (updated metadata, fs_transformed_files, fs_transformed_chunks)
    */
  def transform(metadata: DataFrame, files: DataFrame, chunks: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val todo = metadata
      .filter(col("transformed_gridfs_file_id").isNull)                   // F4 (re-run safety)
      .filter(col("gridfs_file_id").isNotNull)                            // F5

    val blobs = Chunking.reassemble(chunks)                               // J2 + A3
    val joined = todo
      .join(files.select(col("_id").as("__fid")),
        col("gridfs_file_id") === col("__fid"), "inner")                  // J1; dangling FK ⇒ dropped (F6)
      .join(blobs, col("gridfs_file_id") === col("files_id"), "inner")
    val transformed = transformedBlobs(joined, col("object_id"), col("data"),
      col("_id").as("__mid"))                                             // I1–I4
    val (tFiles, tChunks) = Chunking.gridfsPut(transformed)              // K5

    val updated = metadata
      .join(transformed.select(col("__mid"), col("_id").as("t_id")),
        col("_id") === col("__mid"), "left_outer")                        // K6 as recompute
      .withColumn("transformed_gridfs_file_id",
        coalesce(col("transformed_gridfs_file_id"), col("t_id")))
      .drop("__mid", "t_id")
    (updated, tFiles, tChunks)
  }

  /** E2 pass 4 — M1/M2 split labels, 64/16/20 (SURVEY §0.2). Applied to
    * the WHOLE table deterministically, fixing the reference's artifact
    * where re-runs leave old rows unlabeled (SURVEY §3 E2 note). */
  def split(metadata: DataFrame): DataFrame =
    metadata.withColumn("split", Relational.splitLabel(col("object_id")))

  /** Full E1→E2 orchestration of a fresh ingest (etl_museum_gridfs.py),
    * fused: keep-first runs once on the fetched rows (the [[dedup]]
    * order), and every table is a projection of the kept frame — the
    * kept blobs go straight into the GridFS put, the kernel reads the
    * kept bytes, and the lineage is the transformed id where the kernel
    * decodes. Returns every final table keyed by the reference's
    * collection names. */
  def run(spark: SparkSession, objects: DataFrame, images: DataFrame,
          maxDownloads: Int = 20): Map[String, DataFrame] = {
    val kept = Relational.keepFirst(fetch(objects, images, maxDownloads),
      Seq("objectID"), Seq(col("created_at"), col("__meta_id")))
    val objectId = col("objectID").cast("long")
    val (files, chunks) = Chunking.gridfsPut(rawBlobs(kept))             // K1
    val (tFiles, tChunks) =
      Chunking.gridfsPut(transformedBlobs(kept, objectId, col("bytes")))  // K5
    val lineage = when(ImageOps.transformImage(col("bytes")).isNotNull,   // K6
      transformedId(objectId))
    Map(
      "artwork_metadata" -> split(clean(metadataOf(kept, lineage))),
      "fs_files" -> files, "fs_chunks" -> chunks,
      "fs_transformed_files" -> tFiles, "fs_transformed_chunks" -> tChunks)
  }
}
