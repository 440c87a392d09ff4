package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Collections, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetUtils}
import org.apache.spark.sql.graft.LocalFrame
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.api.Stage

/**
 * Stage persistence: JSON metadata + parquet model data.
 *
 * Layout mirrors the reference (flink-ml-core
 * org/apache/flink/ml/util/ReadWriteUtils.java:89-148,298-317):
 *   path/metadata            JSON {className, timestamp, paramMap, extra}
 *   path/data/<i>/           parquet model-data table i (ours: parquet,
 *                            the reference uses custom encoder streams)
 *   path/data/<i>/_DRIVER    present when the driver wrote table i: the
 *                            name of its one parquet file
 *   path/stages/<i>/         nested stages (Pipeline/Graph)
 *
 * Every path goes through its own Hadoop FileSystem, so a model saved to
 * an `hdfs://`, `s3a://` or `file:` URI keeps metadata and data together.
 *
 * A table whose optimized plan is a `LocalRelation` is rows the driver
 * already holds (a fit's coefficients, means, vocabularies): the driver
 * writes them itself, as one file through Spark's own parquet writer and
 * the session's options, and reads them back into a `LocalRelation`, so
 * saving, loading and every later `head()` of such a table run no Spark
 * job. Any other table (an index, a version stream) is written by
 * `df.write.parquet` and read by `spark.read.parquet`, as is any table
 * saved without a `_DRIVER` record. Both kinds are plain Spark parquet:
 * `spark.read.parquet(path/data/<i>)` reads every saved table.
 */
object ReadWrite {

  /** The session's Hadoop configuration (a default one with no session). */
  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())

  private def writeString(fs: FileSystem, file: Path, s: String): Unit = {
    val out = fs.create(file, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def readString(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def saveMetadata(stage: Stage[_], path: String, extra: Map[String, JValue] = Map.empty): Unit = {
    val file = new Path(path, "metadata")
    val meta = JObject(List(
      "className" -> JString(stage.getClass.getName),
      "timestamp" -> JLong(System.currentTimeMillis()),
      "paramMap" -> stage.paramMapJson) ++ extra.toList)
    writeString(file.getFileSystem(hadoopConf()), file, JsonMethods.compact(JsonMethods.render(meta)))
  }

  def loadMetadata(path: String): JObject = {
    val file = new Path(path, "metadata")
    JsonMethods.parse(readString(file.getFileSystem(hadoopConf()), file)).asInstanceOf[JObject]
  }

  def metadataClassName(meta: JObject): String =
    (meta \ "className") match { case JString(s) => s; case _ => sys.error("metadata missing className") }

  def saveModelData(tables: Array[DataFrame], path: String): Unit =
    tables.zipWithIndex.foreach { case (df, i) =>
      df.queryExecution.optimizedPlan match {
        case local: LocalRelation => writeOnDriver(df.sparkSession, local, dataPath(path, i))
        case _ => df.write.mode("overwrite").parquet(dataPath(path, i).toString)
      }
    }

  def loadModelData(spark: SparkSession, path: String, i: Int = 0): DataFrame = {
    val dir = dataPath(path, i)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val record = new Path(dir, DriverRecord)
    if (fs.exists(record)) readOnDriver(spark, conf, new Path(dir, readString(fs, record)))
    else spark.read.parquet(dir.toString)
  }

  def numModelDataTables(path: String): Int = {
    val base = new Path(path, "data")
    val fs = base.getFileSystem(hadoopConf())
    if (!fs.exists(base)) 0 else fs.listStatus(base).count(_.isDirectory)
  }

  private def dataPath(path: String, i: Int): Path = new Path(path, s"data/$i")

  def stagePath(path: String, i: Int): String = new Path(path, f"stages/$i%09d").toString

  /** Names the one parquet file of a table the driver wrote. Spark's file
    * listing skips names starting with `_`. */
  private val DriverRecord = "_DRIVER"

  /** The rows of `table` as one parquet file under `dir`: the file, its
    * footer and any rejected type are those of `df.write.parquet`, which
    * sets up the same writer for each of its tasks. */
  private def writeOnDriver(spark: SparkSession, table: LocalRelation, dir: Path): Unit = {
    val sqlConf = spark.sessionState.conf
    val schema = table.schema
    DataSourceUtils.verifySchema(new ParquetFileFormat, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writers = ParquetUtils.prepareWrite(
      sqlConf, job, schema, new ParquetOptions(Map.empty[String, String], sqlConf))
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val fs = dir.getFileSystem(job.getConfiguration)
    fs.delete(dir, true)
    val name = s"part-00000-${UUID.randomUUID()}-c000${writers.getFileExtension(task)}"
    val writer = writers.newInstance(new Path(dir, name).toString, schema, task)
    try table.data.foreach(writer.write) finally writer.close()
    writeString(fs, new Path(dir, DriverRecord), name)
  }

  /** The rows of a driver-written file, read as `spark.read.parquet` reads
    * them (the footer's Spark schema, the session's reader settings and
    * the footer's date rebase mode), held in a `LocalRelation`. One
    * reader serves footer and rows: parquet's `ParquetReader` builders
    * parse a fresh default Hadoop configuration per file (~15 ms). */
  private def readOnDriver(spark: SparkSession, conf: Configuration, file: Path): DataFrame = {
    val sqlConf = spark.sessionState.conf
    Seq(SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED)
      .foreach(e => conf.set(e.key, sqlConf.getConfString(e.key)))
    val in = ParquetFileReader.open(conf, file)
    try {
      val meta = in.getFooter.getFileMetaData
      val footer = meta.getKeyValueMetaData
      val schemaJson = footer.get(ParquetReadSupport.SPARK_METADATA_KEY)
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schemaJson)
      val options = new ParquetOptions(Map.empty[String, String], sqlConf)
      val support = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(footer.get, options.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(footer.get, options.int96RebaseModeInRead))
      val context = support.init(new InitContext(conf,
        footer.asScala.map { case (k, v) => k -> Collections.singleton(v) }.asJava, meta.getSchema))
      val rows = support.prepareForRead(conf, footer, meta.getSchema, context)
      in.setRequestedSchema(context.getRequestedSchema)
      val columns = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(context.getRequestedSchema, meta.getSchema, true)
      val data = Vector.newBuilder[InternalRow]
      var group = in.readNextRowGroup()
      while (group != null) {
        val records = columns.getRecordReader(group, rows)
        (0L until group.getRowCount).foreach(_ => data += records.read().copy())
        group = in.readNextRowGroup()
      }
      LocalFrame(spark, DataType.fromJson(schemaJson).asInstanceOf[StructType], data.result())
    } finally in.close()
  }

  /**
   * Reflectively load a stage by the className recorded in its metadata.
   * Looks for a companion object implementing `load(SparkSession, String)`
   * (our StageLoader contract), mirroring ReadWriteUtils.java:248-296.
   */
  def loadStage(spark: SparkSession, path: String): Stage[_] = {
    val meta = loadMetadata(path)
    val className = metadataClassName(meta)
    val companion = Class.forName(className + "$")
    val module = companion.getField("MODULE$").get(null)
    val m = companion.getMethod("load", classOf[SparkSession], classOf[String])
    m.invoke(module, spark, path).asInstanceOf[Stage[_]]
  }

  /** Restore a param-only stage: instantiate className and apply paramMap. */
  def loadParamsOnly[T <: Stage[T]](path: String): T = {
    val meta = loadMetadata(path)
    val stage = Class.forName(metadataClassName(meta))
      .getDeclaredConstructor().newInstance().asInstanceOf[T]
    stage.setParamsFromJson(meta \ "paramMap")
    stage
  }

  /** Restore params onto a freshly-constructed instance. */
  def applyParams[T <: Stage[T]](stage: T, path: String): T = {
    stage.setParamsFromJson(loadMetadata(path) \ "paramMap")
    stage
  }
}
