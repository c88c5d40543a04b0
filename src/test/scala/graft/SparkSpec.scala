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

  /** Run `body` with log4j logger `name` at WARN and its WARN messages
    * captured; returns the body's value and the messages, one per line. */
  def warnings[T](name: String)(body: => T): (T, String) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val buf = new StringBuffer
    val capture = new AbstractAppender(s"capture-$name", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN)
          buf.append(e.getMessage.getFormattedMessage).append('\n')
    }
    capture.start()
    val logger = LoggerContext.getContext(false).getLogger(name)
    val prev = logger.getLevel
    logger.addAppender(capture)
    Configurator.setLevel(name, Level.WARN)
    try (body, buf.toString)
    finally {
      logger.removeAppender(capture)
      Configurator.setLevel(name, prev)
      capture.stop()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
