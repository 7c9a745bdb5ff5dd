package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded MET-shaped inputs for the museum ETL and the invariants they
  * imply. Every edge the pipeline branches on is present: duplicate
  * objectIDs arriving via different URLs, 404 objects, empty and null
  * `primaryImage`, failed image fetches (HTTP 500) and undecodable bytes.
  * Decodable images are random-noise JPEGs sized to span 1–5 GridFS
  * chunks, like the 314 KB–1.07 MB originals the reference downloads. */
final case class MetObject(objectId: Long, title: String, artist: String, department: String,
                           culture: String, period: String, date: String, medium: String,
                           url: String, status: Int)

final case class MuseumInputs(objects: Seq[MetObject], images: Seq[(String, Array[Byte], Int)]) {
  private val imageByUrl = images.map(i => i._1 -> i).toMap

  /** Rows that survive ingest: status 200, non-blank URL, fetched bytes. */
  def ingested: Seq[MetObject] = objects.filter { o =>
    o.status == 200 && o.url != null && o.url.trim.nonEmpty &&
      imageByUrl.get(o.url).exists(i => i._3 == 200 && i._2 != null)
  }

  /** Keep-first per objectID. Rows of one ingest share `created_at`, so
    * the pipeline's tie-break is the smallest metadata `_id`, which is
    * derived from (objectID, primaryImage). */
  def keptAndVictims: (Seq[MetObject], Seq[MetObject]) = {
    val groups = ingested.groupBy(_.objectId).values.toSeq
    val kept = groups.map(_.minBy(o => Museum.hexId(s"${o.objectId}|${o.url}_meta")))
    val keptSet = kept.toSet
    (kept, ingested.filterNot(keptSet.contains))
  }

  def decodable(o: MetObject): Boolean = Museum.decodes(imageByUrl(o.url)._2)
}

object Museum {
  val ChunkSize = 261120
  val Tables: Seq[(String, String)] = Seq(
    "artwork_metadata" -> "object_id", "fs_files" -> "_id", "fs_chunks" -> "files_id",
    "fs_transformed_files" -> "_id", "fs_transformed_chunks" -> "files_id")

  def hexId(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(24)

  def decodes(bytes: Array[Byte]): Boolean =
    try ImageIO.read(new ByteArrayInputStream(bytes)) != null
    catch { case _: Exception => false }

  /** A noise JPEG of roughly `targetBytes` (noise defeats compression,
    * so byte size tracks pixel count). */
  def noiseJpeg(rng: scala.util.Random, targetBytes: Int): Array[Byte] = {
    val side = math.max(64, math.sqrt(targetBytes / 1.45).toInt)
    val w = side + rng.nextInt(side / 3) - side / 6
    val h = (side.toLong * side / w).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) { px(i) = rng.nextInt(0x1000000); i += 1 }
    img.setRGB(0, 0, w, h, px, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpeg", out)
    out.toByteArray
  }

  private val Depts = Array("European Paintings", "Asian Art", "Greek and Roman Art",
    "Egyptian Art", "Arms and Armor", "Photographs", "Drawings and Prints")
  private val Cultures = Array("Japan", "Greek", "French", "Egyptian", "Dutch", "China")
  private val Periods = Array("Edo", "Classical", "Ming dynasty", "New Kingdom", "Baroque")
  private val Media = Array("Oil on canvas", "Woodblock print", "Terracotta", "Bronze",
    "Albumen silver print", "Ink on paper")

  /** `n` distinct objects (n ≥ 8) plus a duplicate row for every fourth
    * one. The seed shuffles which object gets which role and image size;
    * the roles and the spread of sizes are fixed, so every seed asks for
    * the same amount of work: positions 0–4 are a blank URL, a null URL, a
    * 404, a failed fetch and undecodable bytes; decodable images get sizes
    * spread evenly over 0.5–4.5 GridFS chunks. */
  def generate(seed: Long, n: Int): MuseumInputs = {
    require(n >= 8, "museum inputs need at least 8 objects")
    val rng = new scala.util.Random(seed)
    def pick(a: Array[String]): String = rng.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case _ => a(rng.nextInt(a.length))
    }
    val ids = rng.shuffle((0 until n).map(i => 100000L + i * 37L))
    val dups = (5 until n by 4).toSet
    val decodable = n - 5 + dups.size - 1
    val sizes = rng.shuffle((0 until decodable).map(k =>
      (ChunkSize * (0.5 + 4.0 * (k + 0.5) / decodable)).toInt)).iterator
    def url(id: Long, suffix: String) = s"https://images.metmuseum.org/$id$suffix.jpg"
    def obj(id: Long, title: String, u: String, status: Int) = MetObject(id, title,
      pick(Array("Hokusai", "Rembrandt", "Unknown", "Vincent van Gogh", "Utagawa Hiroshige")),
      pick(Depts), pick(Cultures), pick(Periods),
      pick(Array("ca. 1785", "1847–50", "450 BC", "1887", "18th century")), pick(Media), u, status)
    val objects = Vector.newBuilder[MetObject]
    val images = Vector.newBuilder[(String, Array[Byte], Int)]
    def jpeg(u: String): Unit = images += ((u, noiseJpeg(rng, sizes.next()), 200))
    def garbage(u: String): Unit =
      images += ((u, Array.fill(4096 + rng.nextInt(60000))(rng.nextInt(256).toByte), 200))
    ids.zipWithIndex.foreach { case (id, i) =>
      val u = url(id, "")
      i match {
        case 0 => objects += obj(id, s"Object $id", "", 200)
        case 1 => objects += obj(id, s"Object $id", null, 200)
        case 2 => objects += obj(id, s"Object $id", u, 404)
        case 3 => objects += obj(id, s"Object $id", u, 200); images += ((u, Array.emptyByteArray, 500))
        case 4 => objects += obj(id, s"Object $id", u, 200); garbage(u)
        case _ => objects += obj(id, s"Object $id", u, 200); jpeg(u)
      }
      if (dups.contains(i)) {                             // same objectID, another URL
        val du = url(id, "_b")
        objects += obj(id, s"Object $id (alt)", du, 200)
        if (i == dups.max) garbage(du) else jpeg(du)
      }
    }
    MuseumInputs(objects.result(), images.result())
  }

  def write(spark: SparkSession, in: MuseumInputs, dir: String): Unit = {
    val objSchema = graft.sources.ApiSource.objectsSchema
    val objRows = in.objects.map(o => Row(o.objectId, o.title, o.artist, o.department,
      o.culture, o.period, o.date, o.medium, o.url, o.status))
    graft.sources.ApiSource.writeObjects(
      spark.createDataFrame(spark.sparkContext.parallelize(objRows, 4), objSchema), dir)
    val imgSchema = StructType(Seq(StructField("url", StringType), StructField("bytes", BinaryType),
      StructField("status", IntegerType)))
    val imgRows = in.images.map(i => Row(i._1, i._2, i._3))
    graft.sources.ApiSource.writeImages(
      spark.createDataFrame(spark.sparkContext.parallelize(imgRows, 4), imgSchema), dir)
  }

  def readStore(spark: SparkSession, name: String): DataFrame =
    spark.read.format("graft-store").option("name", name).load()

  /** The invariants the generated inputs imply, checked on the store's
    * current tables. Returns the number of checks made and
    * (check, failure message) per failed check. */
  def check(spark: SparkSession, in: MuseumInputs): (Int, Seq[(String, String)]) = {
    val fails = Seq.newBuilder[(String, String)]
    var made = 0
    def expect(name: String, got: Any, want: Any): Unit = {
      made += 1
      if (got != want) fails += (name -> s"got $got, want $want")
    }
    val (kept, victims) = in.keptAndVictims
    val meta = readStore(spark, "artwork_metadata")
    expect("kept_rows", meta.count(), kept.size.toLong)
    expect("kept_ids", meta.select("object_id").collect().map(_.getLong(0)).sorted.toSeq,
      kept.map(_.objectId).sorted)
    val files = readStore(spark, "fs_files")
    val fileIds = files.select("_id").collect().map(_.getString(0)).toSet
    expect("files_rows", fileIds.size, kept.size)
    val victimIds = victims.map(v => hexId(s"${v.objectId}|${v.url}")).toSet
    expect("victim_blobs_left", (fileIds intersect victimIds).size, 0)
    val chunkFiles = readStore(spark, "fs_chunks").select("files_id").distinct()
      .collect().map(_.getString(0)).toSet
    expect("victim_chunks_left", (chunkFiles intersect victimIds).size, 0)
    val transformed = kept.count(in.decodable)
    expect("transformed_files", readStore(spark, "fs_transformed_files").count(), transformed.toLong)
    expect("transformed_lineage",
      meta.filter(col("transformed_gridfs_file_id").isNotNull).count(), transformed.toLong)
    expect("split_labels", meta.filter(col("split").isNull).count(), 0L)
    for ((f, c) <- Seq("fs_files" -> "fs_chunks", "fs_transformed_files" -> "fs_transformed_chunks")) {
      val bad = readStore(spark, f).join(
        readStore(spark, c).groupBy(col("files_id").as("_id"))
          .agg(sum(length(col("data"))).cast("long").as("__len"), count(lit(1)).as("__n")),
        Seq("_id"), "left_outer")
        .filter(col("__len").isNull || col("__len") =!= col("length") ||
          col("__n") =!= ceil(col("length") / lit(ChunkSize.toDouble)))
        .count()
      expect(s"$c reassemble to length", bad, 0L)
    }
    val blobs = graft.operators.Chunking.reassemble(readStore(spark, "fs_transformed_chunks"))
      .select("data").collect().map(_.getAs[Array[Byte]](0))
    val badBlobs = blobs.count { b =>
      val img = try ImageIO.read(new ByteArrayInputStream(b)) catch { case _: Exception => null }
      img == null || img.getWidth != 224 || img.getHeight != 224 ||
        img.getColorModel.getNumComponents != 3
    }
    expect("transformed_224x224_rgb", badBlobs, 0)
    (made, fails.result())
  }
}
