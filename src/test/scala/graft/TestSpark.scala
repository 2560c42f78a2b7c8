package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One shared local session for all suites (forked test JVM). Each task
  * gets two attempts, so a spec can retry a failed task (local mode's
  * default is one). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4,2]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpecBase {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Rows sorted by string rendering — order-insensitive comparisons. */
  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def df(schema: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
}
