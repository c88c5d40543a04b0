package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for the suite (SingleProcessorTestController
  * analog — libminifi/test/libtest/unit/SingleProcessorTestController.h:39-57:
  * build one operator, trigger with (content, attributes), inspect
  * per-relationship outputs). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** One FlowFrame-shaped row per (content, attrs) pair. */
  def flowFrame(rows: Seq[(String, Map[String, String])]): DataFrame = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("attributes",
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))))
    val data = rows.map { case (c, m) =>
      org.apache.spark.sql.Row(c, m)
    }
    spark.createDataFrame(data.asJava, schema)
      .withColumn("uuid", expr("uuid()"))
      .withColumn("entryDate", current_timestamp())
      .withColumn("relationship", lit(null: String))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
