package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Sessions.local` is the only session builder: the shared test
  * session carries every load-bearing setting, and no other file under
  * `src/` builds a session of its own (a copy would drift, as the nine
  * hand-kept builders this replaced did).
  */
class SessionsSpec extends AnyFunSuite {

  test("the shared session carries every load-bearing setting") {
    val conf = Spark.session.conf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "524288")
    assert(Spark.session.sparkContext.getConf.get("spark.cleaner.periodicGC.interval") == "60s")
  }

  test("no file under src/ but Sessions.scala builds a SparkSession") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder("
    val builders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toList
    assert(builders == List("Sessions.scala"))
  }
}
