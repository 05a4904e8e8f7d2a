package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration: the tests run the shipped one, and no
  * source but GraftSession builds a session of its own.
  */
class SessionConfigSpec extends AnyFunSuite {

  test("the test session carries GraftSession's settings and ANSI mode") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("only GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own search
    val needle = "SparkSession" + ".builder"
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val builders = sources
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readAllLines(p).asScala.exists(l => !isComment(l) && l.contains(needle)))
    assert(builders.isEmpty)
  }
}
