package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one per suite (lazy), the same
  * [[Session.local]] recipe at 4 cores for every suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
}
