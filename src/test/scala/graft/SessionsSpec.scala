package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `Sessions.local` is the one session builder in src/main: the mains
  * and the test suite share its config. */
class SessionsSpec extends SparkTestBase {

  test("the test session is Sessions.local(4)") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("no main source outside graft/Sessions.scala builds its own session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not run from the repo root: ${root.toAbsolutePath}")
    val factory = root.resolve("graft/Sessions.scala")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && p != factory)
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"SparkSession.builder outside graft.Sessions: $offenders")
  }
}
