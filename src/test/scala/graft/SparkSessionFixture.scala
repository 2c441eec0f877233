package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * reuses it via getOrCreate, so suites don't pay repeated boot cost).
  */
trait SparkSessionFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkSessionFixture.session

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Run a plan-pinning assertion body once per shuffle-partition
    * setting (r8 verdict task 6): the suite default is 4, and a pin that
    * only holds there could be 4-partition-local — AQE coalescing,
    * broadcast-vs-SMJ choices, and partition pruning all read this conf.
    * 32 mirrors the driver's Bench/Verify sessions. The conf is restored
    * even when the body throws, so a failing pin can't poison later
    * suites sharing the JVM-wide session.
    */
  def atShufflePartitions[A](ns: Int*)(body: => A): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try ns.foreach { n => spark.conf.set(key, n.toString); body }
    finally spark.conf.set(key, prev)
  }

  /** The two settings every physical-plan pin must hold at. */
  def atPinnedShuffleSettings[A](body: => A): Unit =
    atShufflePartitions(4, 32)(body)
}

object SparkSessionFixture {
  /** The engine session at 4 cores (with the GraftExtensions that
    * ExtensionsSpec exercises).
    */
  lazy val session: SparkSession = Session.getOrCreate(Some(4), "graft-tests")
}
