package graft.sources

import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.json.{GraftJsonBridge, JSONOptions, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.{DropMalformedMode, FailFastMode, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Zip-archive ingest: one input file = a zip holding `metadata.json`
  * plus one JSON-lines member per entity — the file shape the reference
  * pulls from S3 and unpacks driver-side
  * (/root/reference/sqs_sensor_dag.py:92-98, metadata.json member read
  * at :96-98; payload parse inside ReaderStep [inferred],
  * parallelized_data_pipeline_dag.py:183).
  *
  * The zip member extraction is inherently a single stream, exactly as
  * in the reference — it happens once on the driver per (small) control
  * file. Because the driver already holds every member's lines, it also
  * infers each member's schema there ([[inferSchema]], Spark's own
  * inference functions, so the schema equals `spark.read.json`'s)
  * instead of launching one inference job per member; the payload then
  * becomes a distributed DataFrame read with that schema, in as many
  * partitions as its bytes fill `spark.sql.files.maxPartitionBytes`
  * (at most `defaultParallelism`): a small member is one task and one
  * output file. Reading a file therefore starts no Spark job — the
  * first job is the caller's action. At 100 TB the payload would land
  * unzipped on object storage and be read with `spark.read.json(path)`
  * directly — this reader is the control-plane path, not the bulk path.
  */
object ZipIngest {

  final case class ZipPayload(metadata: Map[String, String], entities: Map[String, DataFrame])

  /** Read a zip through the Hadoop FS API (works for file://, hdfs://,
    * s3a:// alike), returning parsed metadata and one DataFrame per
    * data member (member name without .json = entity name).
    */
  def read(spark: SparkSession, path: String): ZipPayload = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val zin = new ZipInputStream(fs.open(p))
    val members = mutable.Map[String, Array[Byte]]()
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) members(entry.getName) = zin.readAllBytes()
        entry = zin.getNextEntry
      }
    } finally zin.close()
    def text(bytes: Array[Byte]) = new String(bytes, StandardCharsets.UTF_8)

    val metadata = members.get("metadata.json").map(b => parseMetadata(text(b))).getOrElse(Map.empty)
    val maxPartitionBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val entities = (members - "metadata.json").map { case (name, bytes) =>
      // String.lines splits on \n, \r and \r\n, as BufferedReader.readLine does
      val lines = text(bytes).lines().iterator().asScala.toVector
      val partitions = math.min(spark.sparkContext.defaultParallelism,
        math.max(1L, (bytes.length + maxPartitionBytes - 1) / maxPartitionBytes).toInt)
      val ds = spark.createDataset(spark.sparkContext.parallelize(lines, partitions))(Encoders.STRING)
      name.stripSuffix(".json") -> spark.read.schema(inferSchema(spark, lines)).json(ds)
    }.toMap
    ZipPayload(metadata, entities)
  }

  /** The schema `spark.read.json(spark.createDataset(lines))` infers,
    * computed on the driver without a Spark job: the per-line fold of
    * `JsonInferSchema.infer` (same options as `DataFrameReader.json`:
    * session time zone and corrupt-record column; malformed lines
    * handled per parse mode), then its canonicalization.
    */
  private[graft] def inferSchema(spark: SparkSession, lines: Seq[String]): StructType = {
    val conf = spark.sessionState.conf
    // JsonInferSchema reads SQLConf.get when built; the calling thread
    // (a pipeline branch) may have no active session to resolve it from
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord)
      val corrupt = options.columnNameOfCorruptRecord
      val inferrer = new JsonInferSchema(options)
      val factory = options.buildJsonFactory()
      val lineTypes = lines.iterator.flatMap { line =>
        try {
          val parser = factory.createParser(line)
          try { parser.nextToken(); Some(inferrer.inferField(parser)) } finally parser.close()
        } catch {
          case e: JsonProcessingException => options.parseMode match {
            case PermissiveMode => Some(StructType(Seq(StructField(corrupt, StringType))))
            case DropMalformedMode => None
            case FailFastMode => throw new IllegalArgumentException(
              s"Malformed records are detected in schema inference. Parse Mode: ${FailFastMode.name}.", e)
          }
        }
      }
      val root = lineTypes.foldLeft(StructType(Nil): DataType)(
        JsonInferSchema.compatibleRootType(corrupt, options.parseMode))
      // canonicalization erases every empty struct, the root one included
      GraftJsonBridge.canonicalizeType(inferrer, root, options)
        .collect { case s: StructType => s }
        .getOrElse(StructType(Nil))
    }
  }

  /** metadata.json -> flat string map (workflow_system_name, company_id,
    * ... — the keys read at sqs_sensor_dag.py:100-103).
    */
  private[graft] def parseMetadata(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(fields) =>
        fields.collect {
          case (k, JString(v)) => k -> v
          case (k, JInt(v))    => k -> v.toString
          case (k, JLong(v))   => k -> v.toString
          case (k, JDouble(v)) => k -> v.toString
          case (k, JBool(v))   => k -> v.toString
        }.toMap
      case _ => Map.empty
    }
  }
}
