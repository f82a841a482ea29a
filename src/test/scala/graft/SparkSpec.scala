package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  /** Run `f` with the session conf `key` set to `value`, restoring what was
    * there before (or unsetting it) afterwards.
    */
  def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The two paths of `Dedup.connectedComponents`, as (test-name suffix,
    * setting): the driver-side rounds a small pair list takes by default,
    * and the distributed rounds, forced by turning the broadcast threshold
    * (its driver-side budget) off.
    */
  val ccPaths: Seq[(String, Option[String])] =
    Seq("" -> None, " [distributed rounds]" -> Some("-1"))

  def onCcPath[T](setting: Option[String])(f: => T): T = setting match {
    case Some(v) => withConf("spark.sql.autoBroadcastJoinThreshold", v)(f)
    case None => f
  }

  /** Normalize a result set for golden comparison: rows as sorted lists of
    * string cells; doubles rounded to 6 decimals.
    */
  def rows(df: DataFrame): Seq[Seq[String]] = {
    def cell(a: Any): String = a match {
      case null => "NULL"
      case d: java.lang.Double =>
        val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        r.bigDecimal.stripTrailingZeros.toPlainString
      case f: java.lang.Float => cell(f.toDouble)
      case b: java.math.BigDecimal =>
        BigDecimal(b).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    df.collect().toSeq.map(_.toSeq.map(cell)).sortBy(_.mkString(""))
  }

  /** Parse golden text: lines of tab-separated cells. */
  def golden(s: String): Seq[Seq[String]] =
    s.trim.split("\n").toSeq.filter(_.nonEmpty)
      .map(_.split("\t").toSeq.map(_.trim)).sortBy(_.mkString(""))

  def checkGolden(df: DataFrame, expected: String): Unit = {
    val got = rows(df)
    val want = golden(expected)
    assert(got == want, s"\nexpected:\n${want.map(_.mkString("\t")).mkString("\n")}\ngot:\n${got.map(_.mkString("\t")).mkString("\n")}")
  }
}
