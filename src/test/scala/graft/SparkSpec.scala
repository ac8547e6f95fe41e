package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.zarr.SparkSessions.local(4, "graft-test")

  val sfDir = "/root/testdata/sf0.001"
}
