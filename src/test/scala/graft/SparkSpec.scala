package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per suite run, built
  * by the mains' recipe (`Session.local`: UTC, nanosAsLong). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()

  /** Spark jobs `body` launches, as [[Profile]] attributes them. */
  def jobsOf(body: => Any): Int = Profile.jobs(spark.sparkContext)(body).toInt
}

object SparkSpec {
  lazy val session: SparkSession = Session.local("4", "4", "graft-test")
}
