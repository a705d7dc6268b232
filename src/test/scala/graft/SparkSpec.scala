package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the engine's own
  * [[graft.Session.builder]] at two cores, so specs run with the settings
  * every main runs with. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder("graft-tests", 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
