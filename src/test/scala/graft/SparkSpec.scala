package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per suite; cheap after the first). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = LakeSession.create()
}
