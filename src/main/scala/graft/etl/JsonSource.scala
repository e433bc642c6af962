package graft.etl

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON ingestion (SURVEY.md §2.1 S3). The reference hands records to its
  * engine as one JSON *array* written to a temp file and re-inferred
  * (export.py:216-228); the Spark-native equivalents are:
  *
  *  - [[readArrayFile]]: `multiLine` JSON-array file — schema pinned by
  *    default, inference on request (matching read_json_auto).
  *  - [[readJsonl]]: JSON-lines — the layout to prefer at scale (splittable,
  *    so a 100 TB input parallelizes; a multiLine array file does not).
  *  - [[fromRecords]]: in-memory record strings (e.g. straight from the
  *    fetch client) — no temp-file handoff at all.
  *
  * The readers plan on the driver; reading, UTF-8 encoding and JSON
  * parsing all run in executor tasks.
  */
object JsonSource {

  def readArrayFile(spark: SparkSession, path: String,
      schema: Option[StructType] = Some(ClimbSchema.climb)): DataFrame = {
    val r = spark.read.option("multiLine", "true")
    schema.fold(r)(r.schema).json(path)
  }

  def readJsonl(spark: SparkSession, path: String,
      schema: Option[StructType] = Some(ClimbSchema.climb)): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** Parse records already in memory (the driver-side fetch path). The
    * driver only slices the strings into one task per record, up to the
    * default parallelism (the slice count a local relation scan would
    * use); encoding them as rows and parsing the JSON run in the tasks.
    * A malformed record reads as a row of NULLs (PERMISSIVE). */
  def fromRecords(spark: SparkSession, records: Seq[String],
      schema: StructType = ClimbSchema.climb): DataFrame = {
    val sc = spark.sparkContext
    val slices = math.min(math.max(records.size, 1), sc.defaultParallelism)
    spark.read.schema(schema).json(
      spark.createDataset(sc.parallelize(records, slices))(Encoders.STRING))
  }

  /** Register as the `climbs` view the user SQL runs over. */
  def registerClimbs(df: DataFrame): DataFrame = {
    df.createOrReplaceTempView("climbs")
    df
  }
}
