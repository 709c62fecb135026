package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.{Conf, DirIO}

/** Streaming gates scope their session conf and scratch: whatever a gate
  * sets (state partitions, nanosAsLong, the state store provider) and
  * whatever it stages is gone when it returns or throws, and gates nest
  * with batch queries without the caller ever seeing a changed conf.
  */
class GateConfScopeSpec extends SparkSpec {

  private val Keys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.streaming.stateStore.providerClass")

  private def confNow(): Seq[(String, Option[String])] =
    Keys.map(k => k -> spark.conf.getOption(k))

  private def run(name: String): Long =
    graft.SparkEntry.queries(name)(spark, sf).count()

  private def q139Scratch(): Set[String] =
    DirIO.list(DirIO.scratchRoot())(_.iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("q139_")).toSet)

  test("a gate that throws before its drain leaks neither conf nor scratch") {
    val noEvents = tmpDir("gate_no_events")
    val conf = confNow()
    val scratch = q139Scratch()
    intercept[Exception](
      graft.SparkEntry.queries("q139_streamed_hourly_profile")(
        spark, noEvents))
    assert(confNow() == conf)
    assert(q139Scratch().subsetOf(scratch),
      "the failed run's q139 checkpoint/source scratch must be deleted")
  }

  test("nested gates and batch queries never change the caller's conf") {
    Conf.scoped(spark, "spark.sql.shuffle.partitions" -> "3",
        "spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val conf = confNow()
      Seq("q139_streamed_hourly_profile", "q01_pricing_summary",
        "q140_streamed_interval_join", "q148_streamed_running_totals",
        "q336_concurrent_writers").foreach { name =>
        assert(run(name) > 0, name)
        assert(confNow() == conf, s"after $name")
      }
    }
  }

  test("only graft.core.Conf saves and restores session conf") {
    val main = Paths.get("src/main/scala")
    val offenders = DirIO.walk(main)(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("core", "Conf.scala")))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("conf.unset") || src.contains("conf.getOption")
      }
      .map(main.relativize(_).toString).toList)
    assert(Files.isDirectory(main) && offenders.isEmpty, offenders)
  }
}
