package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Static lint: [[GraftSession]] is the only code that builds a
  * session, so the plan Inspect prints is the plan Bench times and
  * Verify hashes. A second builder site under src/ is where masters
  * and shuffle-partition counts start to drift apart again.
  */
class SessionLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  // split so this file does not match itself
  private val builderCall = "SparkSession" + ".builder"

  test("sessions are built only in GraftSession.scala") {
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val offenders = sources
      .filterNot(_.endsWith("GraftSession.scala"))
      .filter(p => Files.readString(p).contains(builderCall))
    assert(offenders.isEmpty,
      s"build sessions through GraftSession, not $builderCall: " +
        offenders.mkString(", "))
  }

  test("GraftSession.build(cores = 8) pins master, partitions, UTC and nanos") {
    val s = GraftSession.build(cores = 8, app = "graft-test", logLevel = "ERROR")
    assert(s.sparkContext.master ==
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
    assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
