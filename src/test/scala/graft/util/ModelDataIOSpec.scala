package graft.util

import java.io.{ByteArrayOutputStream, File}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ml.linalg.{Matrices, SQLDataTypes, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.api.{Pipeline, PipelineModel}
import graft.classification.{LogisticRegression, LogisticRegressionModel}
import graft.dedup.{MinHashIndexModel, MinHashIndexer}
import graft.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import graft.servable.ServableExport

/** Model-data persistence: rows the driver holds are written and read on
  * the driver (no Spark job), distributed tables through Spark, and both
  * are plain Spark parquet under the model's own directory. */
class ModelDataIOSpec extends SparkSpec {

  private def isLocal(df: DataFrame) =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Every row's values as text: a double's text tells -0.0 from 0.0 and
    * round-trips it, a vector's tells dense from sparse. */
  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  private def points = spark.range(0, 400, 1, 4).select(
    col("id") +: (0 until 3).map(j => randn(11 + j).as(s"f$j")): _*)
    .withColumn("label", (col("f0") - col("f1") * 0.5 > 0).cast("double"))

  private def pipeline = new Pipeline(Seq(
    new VectorAssembler().setInputCols("f0", "f1", "f2").setOutputCol("features"),
    new StandardScaler().setInputCol("features").setOutputCol("scaled"),
    new LogisticRegression().setFeaturesCol("scaled").setLabelCol("label").setMaxIter(3)))

  private def modelData(m: PipelineModel): Seq[Seq[String]] =
    Seq(1, 2).map(i => rows(m.stages(i).asInstanceOf[graft.api.Model[_]].getModelData.head))

  test("a fitted pipeline saves, loads and exports with no job; scoring runs one") {
    val fitted = pipeline.fit(points)
    val dir = tmpDir()
    assert(jobsOf(fitted.save(dir)) == 0)
    var loaded: PipelineModel = null
    assert(jobsOf { loaded = PipelineModel.load(spark, dir) } == 0)
    val scaler = loaded.stages(1).asInstanceOf[StandardScalerModel].getModelData.head
    val lr = loaded.stages(2).asInstanceOf[LogisticRegressionModel].getModelData.head
    assert(isLocal(scaler) && isLocal(lr))
    assert(jobsOf {
      ServableExport.exportStandardScaler(scaler, new ByteArrayOutputStream())
      ServableExport.exportLinearModel(lr, new ByteArrayOutputStream())
    } == 0)
    assert(jobsOf(loaded.transform(points).head.write.format("noop").mode("overwrite").save()) == 1)
    assert(modelData(loaded) == modelData(fitted))
    assert(rows(spark.read.parquet(s"$dir/stages/000000001/data/0")) == modelData(fitted).head)
    assert(rows(loaded.transform(points).head.select("prediction", "rawPrediction")) ==
      rows(fitted.transform(points).head.select("prediction", "rawPrediction")))
  }

  private val kinds = StructType(Seq(
    StructField("dense", SQLDataTypes.VectorType),
    StructField("sparse", SQLDataTypes.VectorType),
    StructField("matrix", SQLDataTypes.MatrixType),
    StructField("x", DoubleType),
    StructField("xs", ArrayType(DoubleType)),
    StructField("tags", MapType(StringType, LongType)),
    StructField("name", StringType),
    StructField("n", LongType, nullable = false)))

  private def everyKind = spark.createDataFrame(Seq(
    Row(Vectors.dense(1.5, Double.NaN, -0.0), Vectors.sparse(5, Array(1, 3), Array(-2.0, 1e-300)),
      Matrices.dense(2, 2, Array(1.0, Double.PositiveInfinity, 3.0, 4.0)), Double.NaN,
      Seq(0.1, null, Double.NegativeInfinity), Map("a" -> 1L, "b" -> -2L), "zeta ζ", Long.MinValue),
    Row(Vectors.dense(Array.empty[Double]), Vectors.sparse(3, Array.empty[Int], Array.empty[Double]),
      Matrices.sparse(2, 2, Array(0, 1, 1), Array(1), Array(-7.25)), -0.0,
      Seq.empty[Double], Map.empty[String, Long], "", Long.MaxValue),
    Row(null, null, null, null, null, null, null, 0L),
    Row(Vectors.dense(Double.MaxValue), Vectors.sparse(1, Array(0), Array(Double.MinPositiveValue)),
      Matrices.dense(1, 1, Array(Double.NegativeInfinity)), Double.PositiveInfinity,
      Seq(-0.0), Map("k" -> Long.MaxValue), null, 42L)).asJava, kinds)

  test("driver-held model data round-trips exactly, with no job, as Spark reads it") {
    val table = everyKind
    assert(isLocal(table))
    val dir = tmpDir()
    assert(jobsOf(ReadWrite.saveModelData(Array(table), dir)) == 0)
    assert(new File(s"$dir/data/0/_DRIVER").exists)
    var loaded: DataFrame = null
    assert(jobsOf { loaded = ReadWrite.loadModelData(spark, dir) } == 0)
    assert(isLocal(loaded))
    var got: Seq[String] = null
    assert(jobsOf { got = rows(loaded) } == 0)
    assert(got == rows(table))
    val bits = loaded.collect().map(r => if (r.isNullAt(3)) 0L
      else java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    assert(bits.toSeq == table.collect().toSeq.map(r => if (r.isNullAt(3)) 0L
      else java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    val bySpark = spark.read.parquet(s"$dir/data/0")
    assert(loaded.schema == bySpark.schema)
    assert(rows(bySpark) == got)
    assert(loaded.select("dense").head().getAs[Vector](0).toArray.last.equals(-0.0))
  }

  test("a driver-written file carries the schema and footer of df.write.parquet") {
    val (mine, spark_) = (tmpDir(), tmpDir())
    ReadWrite.saveModelData(Array(everyKind), mine)
    everyKind.write.mode("overwrite").parquet(s"$spark_/t")
    def footer(dir: String) = {
      val file = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toURI), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = reader.getFooter.getFileMetaData
        (file.getName.split("-c000").last, meta.getSchema, meta.getKeyValueMetaData.asScala.toMap)
      } finally reader.close()
    }
    assert(footer(s"$mine/data/0") == footer(s"$spark_/t"))
    assert(new File(s"$mine/data/0").listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }

  test("a type parquet rejects is rejected as df.write.parquet rejects it") {
    val interval = new org.apache.spark.unsafe.types.CalendarInterval(0, 1, 0)
    val table = spark.createDataFrame(Seq(Row(interval)).asJava,
      StructType(Seq(StructField("d", CalendarIntervalType))))
    assert(isLocal(table))
    val mine = intercept[org.apache.spark.sql.AnalysisException] {
      ReadWrite.saveModelData(Array(table), tmpDir())
    }
    val bySpark = intercept[org.apache.spark.sql.AnalysisException] {
      table.write.parquet(tmpDir() + "/t")
    }
    assert(mine.getMessage == bySpark.getMessage)
  }

  test("a distributed table still round-trips through Spark") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Vectors.sparse(200, Array(1, 2, 3, 4, 5, 6), Array.fill(6)(1.0))),
      (2L, Vectors.sparse(200, Array(50, 51, 52, 53, 54), Array.fill(5)(1.0)))
    ).toDF("id", "features").repartition(2)
    val batch = Seq((9L, Vectors.sparse(200, Array(1, 2, 3, 4, 5, 6), Array.fill(6)(1.0))))
      .toDF("id", "features")
    val model = new MinHashIndexer().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(10).setThreshold(0.3).setSeed(7L).fit(corpus)
    assert(!isLocal(model.getModelData.head))
    val dir = tmpDir()
    model.save(dir)
    assert(!new File(s"$dir/data/0/_DRIVER").exists)
    val loaded = MinHashIndexModel.load(spark, dir)
    assert(!isLocal(loaded.getModelData.head))
    assert(rows(loaded.getModelData.head.orderBy("id")) == rows(model.getModelData.head.orderBy("id")))
    assert(loaded.transform(batch).head.select("matched_id").head().getLong(0) == 0L)
  }

  test("a model saved with no record of driver-written tables still loads") {
    val fitted = pipeline.fit(points)
    val dir = tmpDir()
    fitted.save(dir)
    // what the save wrote before the driver path existed: every table
    // through df.write.parquet, no _DRIVER record
    Seq(1, 2).foreach { i =>
      val stage = fitted.stages(i).asInstanceOf[graft.api.Model[_]]
      stage.getModelData.head.write.mode("overwrite").parquet(s"$dir/stages/00000000$i/data/0")
      assert(!new File(s"$dir/stages/00000000$i/data/0/_DRIVER").exists)
    }
    val loaded = PipelineModel.load(spark, dir)
    assert(!isLocal(loaded.stages(2).asInstanceOf[LogisticRegressionModel].getModelData.head))
    assert(modelData(loaded) == modelData(fitted))
  }

  test("a pipeline saved to a file: URI keeps everything under that directory") {
    val fitted = pipeline.fit(points)
    val cwd = new File(System.getProperty("user.dir"))
    val before = cwd.list().toSet
    Seq("file:", "file://").foreach { scheme =>
      val dir = tmpDir()
      fitted.save(scheme + dir)
      assert(new File(s"$dir/metadata").isFile)
      assert(new File(s"$dir/stages/000000000/metadata").isFile)
      assert(new File(s"$dir/stages/000000002/data/0").isDirectory)
      assert(modelData(PipelineModel.load(spark, scheme + dir)) == modelData(fitted))
    }
    assert(cwd.list().toSet == before)
  }
}
