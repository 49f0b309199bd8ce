package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite (SURVEY §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
