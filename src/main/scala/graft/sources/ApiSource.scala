package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** File-backed MET-API source (SURVEY.md §2.1 S1/S2 in the zero-egress
  * environment): object metadata lands as JSON-lines (the shape the REST
  * API returns, FIXTURES.md A4), image blobs as parquet (binary survives
  * columnar storage; JSON would force base64).
  *
  * At scale the JSON scan is splittable and schema-explicit (no
  * inference pass over 100 TB), and Catalyst prunes/pushes into it like
  * any other source. A live fetcher would sit behind the same two
  * DataFrame shapes (rate-limited `mapPartitions` HTTP per SURVEY §2.1),
  * so swapping fixture→live changes no downstream code. */
object ApiSource {

  /** Explicit schema for the API object rows — inference disabled on
    * purpose (schema drift should fail loudly, and inference is a full
    * extra scan at scale). */
  val objectsSchema: StructType = StructType(Seq(
    StructField("objectID", LongType, nullable = false),
    StructField("title", StringType),
    StructField("artistDisplayName", StringType),
    StructField("department", StringType),
    StructField("culture", StringType),
    StructField("period", StringType),
    StructField("objectDate", StringType),
    StructField("medium", StringType),
    StructField("primaryImage", StringType),
    StructField("status", IntegerType, nullable = false)))

  /** Explicit schema for the image fetch results `(url, bytes, status)`
    * — the shape [[graft.sources.HttpFetcher]] emits. Reading parquet
    * without it starts a schema-inference job every time a pipeline is
    * built. */
  val imagesSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("bytes", BinaryType),
    StructField("status", IntegerType)))

  def writeObjects(objects: DataFrame, dir: String): Unit =
    objects.write.mode("overwrite").json(s"$dir/objects")

  def writeImages(images: DataFrame, dir: String): Unit =
    images.write.mode("overwrite").parquet(s"$dir/images")

  def readObjects(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(objectsSchema).json(s"$dir/objects")

  def readImages(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(imagesSchema).parquet(s"$dir/images")
}
