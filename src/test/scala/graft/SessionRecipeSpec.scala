package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The specs run on what ships: `Sessions.build`'s recipe, and default
  * paths resolved from the one checkout root. */
class SessionRecipeSpec extends AnyFunSuite with SparkFixture {

  test("the test session carries the shipped recipe at width 4") {
    val c = spark.conf
    assert(c.get("spark.sql.files.openCostInBytes") == "65536")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.extensions").contains("graft.plans.GraftExtensions"))
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(java.util.Locale.getDefault == java.util.Locale.US)
  }

  test("the path root is the checkout, and TmpRoot lies under its target/tmp") {
    assert(new File(PathRoot.Checkout, "build.sbt").isFile, PathRoot.Checkout)
    val tmp = new File(s"${PathRoot.Checkout}/target/tmp").getCanonicalPath
    assert(new File(queries.TmpRoot).getCanonicalPath.startsWith(s"$tmp/"), queries.TmpRoot)
  }

  test("no source or dev file hard-codes the checkout location") {
    val literal = "/root/" + "repo" // split, so this file does not match itself
    def files(dir: String) = {
      val walk = Files.walk(new File(PathRoot.Checkout, dir).toPath)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toList
      finally walk.close()
    }
    val offenders = (files("src").filter(_.endsWith(".scala")) ++
      files("dev").filterNot(_.contains("__pycache__")))
      .filter(f => new String(Files.readAllBytes(new File(f).toPath), "ISO-8859-1")
        .contains(literal))
    assert(offenders.isEmpty, s"files naming $literal: $offenders")
  }
}
